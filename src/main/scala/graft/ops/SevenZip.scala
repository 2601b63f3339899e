package graft.ops

import java.util.zip.CRC32

/** 7z archive container (the 7zFormat.txt grammar published with the
  * 7-Zip / p7zip sources): the fourth shard container a document crawl
  * meets after tar/zip/gzip families — software dumps and scraped
  * archive mirrors ship `.7z` heavily. From-scratch header walk
  * (variable-length REAL_UINT64 numbers, bit vectors, the property-id
  * tree: PackInfo / UnpackInfo / SubStreamsInfo / FilesInfo, plus the
  * kEncodedHeader indirection real archives use), composed with the
  * existing from-scratch LZMA cores: LZMA2 chunks via
  * [[Xz.decodeLzma2Raw]], raw LZMA1 via [[Xz.decodeLzma1Raw]], bzip2
  * via [[Bzip2]], raw deflate via the JDK, plus stored (Copy) folders.
  *
  * Same family contract as [[Tar]]/[[Zip]]: deterministic writer
  * (solid LZMA1 folder, no timestamps), strict reader that verifies
  * every CRC the format carries (signature-header CRC, next-header
  * CRC, per-substream CRCs), typed fail-stop refusals (`bad_7z` /
  * `bad_crc` / `truncated` / `unsupported` / `encrypted` /
  * `too_large`), and declared-size budget checks BEFORE allocation —
  * a lying unpack size refuses without inflating.
  *
  * Reference behavior pinned: ETL-Pipeline-Project-Auraverse has no
  * archive surface (app.py:1-120 reads loose uploads only); this is
  * north-star scale-out surface like graft.ops.Tar/Zip.
  */
object SevenZip {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_7z", msg)
  private def truncated(msg: String): Nothing = throw new Refusal("truncated", msg)
  private def unsup(msg: String): Nothing = throw new Refusal("unsupported", msg)

  final case class SzMember(name: String, body: Array[Byte])

  private val Magic = Array[Byte]('7', 'z', 0xBC.toByte, 0xAF.toByte, 0x27, 0x1C)

  def isSevenZip(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && java.util.Arrays.equals(
      java.util.Arrays.copyOf(bytes, 6), Magic)

  // ---------------------------------------------------------------- ids
  private final val KEnd = 0x00
  private final val KHeader = 0x01
  private final val KArchiveProperties = 0x02
  private final val KMainStreamsInfo = 0x04
  private final val KFilesInfo = 0x05
  private final val KPackInfo = 0x06
  private final val KUnpackInfo = 0x07
  private final val KSubStreamsInfo = 0x08
  private final val KSize = 0x09
  private final val KCrc = 0x0A
  private final val KFolder = 0x0B
  private final val KCodersUnpackSize = 0x0C
  private final val KNumUnpackStream = 0x0D
  private final val KEmptyStream = 0x0E
  private final val KEmptyFile = 0x0F
  private final val KAnti = 0x10
  private final val KName = 0x11
  private final val KEncodedHeader = 0x17

  // coder method ids (raw id bytes folded big-endian into a Long)
  private final val MCopy = 0x00L
  private final val MLzma2 = 0x21L
  private final val MDelta = 0x03L
  private final val MLzma1 = 0x030101L
  private final val MBcj = 0x04L
  private final val MDeflate = 0x040108L
  private final val MBzip2 = 0x040202L

  // sanity caps: headers are driver-crafted input; a lying count must
  // refuse before it sizes an allocation
  private final val MaxEntries = 1 << 20
  private final val MaxCoders = 64

  // ================================================================ read

  def readSafe(bytes: Array[Byte]): Either[String, Seq[SzMember]] =
    Refusal.attempt(read(bytes), "bad_7z")

  /** Strict parse: walks the real header (or the LZMA-packed
    * kEncodedHeader), decodes every folder, verifies every declared
    * CRC, and returns members in FilesInfo order (directories are
    * skipped, like [[Zip.read]]).
    */
  def read(bytes: Array[Byte]): Seq[SzMember] = {
    if (bytes.length < 32) truncated("7z shorter than the signature header")
    if (!isSevenZip(bytes)) throw new Refusal("bad_magic", "not a 7z archive")
    def u32(off: Int): Long = {
      var v = 0L; var i = 0
      while (i < 4) { v |= (bytes(off + i) & 0xffL) << (8 * i); i += 1 }
      v
    }
    def u64(off: Int): Long = u32(off) | (u32(off + 4) << 32)
    val startCrc = new CRC32
    startCrc.update(bytes, 12, 20)
    if (startCrc.getValue != u32(8))
      throw new Refusal("bad_crc", "signature-header CRC mismatch")
    val nhOff = u64(12)
    val nhSize = u64(20)
    if (nhSize == 0) {
      if (nhOff != 0) bad("empty next header at a nonzero offset")
      return Seq.empty // 7z's canonical empty archive
    }
    if (nhOff < 0 || nhSize < 0 || nhOff > bytes.length - 32L ||
        nhSize > bytes.length - 32L - nhOff)
      truncated("next header past the end of the archive")
    val hdrStart = (32L + nhOff).toInt
    val nhCrc = new CRC32
    nhCrc.update(bytes, hdrStart, nhSize.toInt)
    if (nhCrc.getValue != u32(28))
      throw new Refusal("bad_crc", "next-header CRC mismatch")

    var in = new Reader(bytes, hdrStart, hdrStart + nhSize.toInt)
    var id = in.number()
    if (id == KEncodedHeader) {
      // the header itself is a packed stream: one StreamsInfo (which
      // consumes its own kEnd) whose single folder decodes to the real
      // kHeader bytes
      val si = readStreamsInfo(in)
      if (si.folders.length != 1) bad(s"${si.folders.length} encoded-header folders")
      val hdr = decodeFolder(bytes, si, 0)
      si.folderCrc(0).foreach { want =>
        val c = new CRC32; c.update(hdr)
        if (c.getValue != want) throw new Refusal("bad_crc", "encoded-header content CRC mismatch")
      }
      in = new Reader(hdr, 0, hdr.length)
      id = in.number()
    }
    if (id != KHeader) bad(f"header starts with id 0x$id%02x")

    var streams: Option[StreamsInfo] = None
    var files: Option[FilesInfo] = None
    var t = in.number()
    while (t != KEnd) {
      t match {
        case KArchiveProperties =>
          var pt = in.number()
          while (pt != KEnd) { in.skip(in.sizeField()); pt = in.number() }
        case KMainStreamsInfo =>
          streams = Some(readStreamsInfo(in)) // consumes its own kEnd
        case KFilesInfo =>
          files = Some(readFilesInfo(in))
        case other => bad(f"unexpected header property 0x$other%02x")
      }
      t = in.number()
    }

    val fi = files.getOrElse(FilesInfo(0, Array.empty, Array.empty, Vector.empty))
    val bodies: Seq[Array[Byte]] = streams match {
      case None => Seq.empty
      case Some(si) =>
        // budget BEFORE any decode: the declared total output is known
        val total = si.substreamSizes.foldLeft(0L)(_ + _)
        if (total > graft.core.Budget.maxInflatedBytes)
          throw new Refusal("too_large",
            s"archive declares $total unpacked bytes past the budget")
        val out = Vector.newBuilder[Array[Byte]]
        var sub = 0
        var f = 0
        while (f < si.folders.length) {
          val n = si.numUnpackStreams(f)
          if (n > 0) {
            val folderBytes = decodeFolder(bytes, si, f)
            var off = 0L
            var j = 0
            while (j < n) {
              val len = si.substreamSizes(sub + j)
              if (len < 0 || off + len > folderBytes.length)
                bad(s"substream $j of folder $f overruns the folder output")
              val body = java.util.Arrays.copyOfRange(
                folderBytes, off.toInt, (off + len).toInt)
              si.substreamCrcs(sub + j).foreach { want =>
                val c = new CRC32; c.update(body)
                if (c.getValue != want)
                  throw new Refusal("bad_crc", s"substream CRC mismatch in folder $f")
              }
              out += body
              off += len
              j += 1
            }
            if (off != folderBytes.length)
              bad(s"folder $f decodes to ${folderBytes.length} bytes, substreams cover $off")
          }
          sub += n
          f += 1
        }
        out.result()
    }

    if (fi.names.nonEmpty && fi.names.length != fi.numFiles)
      bad(s"${fi.names.length} names for ${fi.numFiles} files")
    val nStreamFiles = (0 until fi.numFiles).count(i => !fi.emptyStream(i))
    if (nStreamFiles != bodies.length)
      bad(s"$nStreamFiles stream-bearing files but ${bodies.length} substreams")

    val members = Seq.newBuilder[SzMember]
    var bi = 0
    var i = 0
    while (i < fi.numFiles) {
      val name = if (fi.names.nonEmpty) fi.names(i) else s"file$i"
      if (!fi.emptyStream(i)) {
        members += SzMember(name, bodies(bi)); bi += 1
      } else if (fi.emptyFile(i)) {
        members += SzMember(name, Array.emptyByteArray)
      } // else: directory entry — skipped, the Zip.read convention
      i += 1
    }
    members.result()
  }

  // ------------------------------------------------------- header model

  private final case class Coder(id: Long, numIn: Int, numOut: Int, props: Array[Byte])

  private final case class Folder(
      coders: Vector[Coder],
      bindPairs: Vector[(Long, Long)], // (inIndex, outIndex)
      packedIndices: Vector[Long],
      unpackSizes: Vector[Long]) {
    def totalOut: Int = coders.map(_.numOut).sum
    /** the folder's final output stream: the out-stream no bind pair consumes */
    def mainOutIndex: Int = {
      val bound = bindPairs.map(_._2.toInt).toSet
      (0 until totalOut).find(!bound.contains(_)).getOrElse(bad("folder with no unbound output"))
    }
    def unpackSize: Long = unpackSizes(mainOutIndex)
  }

  private final case class StreamsInfo(
      packPos: Long,
      packSizes: Vector[Long],
      folders: Vector[Folder],
      folderCrcs: Vector[Option[Long]],
      folderFirstPack: Vector[Int],
      numUnpackStreams: Vector[Int],
      substreamSizes: Vector[Long],
      substreamCrcs: Vector[Option[Long]]) {
    def folderCrc(f: Int): Option[Long] =
      // a folder CRC is authoritative only when it covers the whole
      // folder output (single substream)
      if (numUnpackStreams(f) == 1 && substreamCrcs.nonEmpty) {
        val sub = numUnpackStreams.take(f).sum
        substreamCrcs(sub)
      } else folderCrcs.lift(f).flatten
  }

  private final case class FilesInfo(
      numFiles: Int,
      emptyStream: Array[Boolean],
      emptyFile0: Array[Boolean], // indexed by empty-stream ordinal
      names: Vector[String]) {
    private lazy val emptyOrdinal: Array[Int] = {
      val ord = new Array[Int](numFiles)
      var k = 0; var i = 0
      while (i < numFiles) { ord(i) = k; if (emptyStream(i)) k += 1; i += 1 }
      ord
    }
    def emptyFile(i: Int): Boolean =
      emptyStream(i) && emptyFile0.length > emptyOrdinal(i) && emptyFile0(emptyOrdinal(i))
  }

  // ------------------------------------------------------ header reader

  /** Bounds-checked cursor over a byte window with the 7z primitives. */
  private final class Reader(val buf: Array[Byte], var off: Int, val end: Int) {
    def u8(): Int = {
      if (off >= end) truncated("7z header ends early")
      val v = buf(off) & 0xff; off += 1; v
    }
    /** REAL_UINT64: mask-prefixed first byte + LE extension bytes. */
    def number(): Long = {
      val first = u8()
      var mask = 0x80
      var value = 0L
      var i = 0
      while (i < 8) {
        if ((first & mask) == 0) {
          return value | ((first & (mask - 1)).toLong << (8 * i))
        }
        value |= u8().toLong << (8 * i)
        mask >>= 1
        i += 1
      }
      value
    }
    def count(what: String, cap: Int = MaxEntries): Int = {
      val n = number()
      if (n < 0 || n > cap || n > (end - off).toLong * 8 + 8)
        bad(s"implausible $what count $n")
      n.toInt
    }
    def sizeField(): Int = {
      val n = number()
      if (n < 0 || n > end - off) truncated(s"property of $n bytes overruns the header")
      n.toInt
    }
    def skip(n: Int): Unit = {
      if (n < 0 || off + n > end) truncated("skip past the header end")
      off += n
    }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || off + n > end) truncated("byte field past the header end")
      val out = java.util.Arrays.copyOfRange(buf, off, off + n)
      off += n
      out
    }
    def u32le(): Long = {
      var v = 0L; var i = 0
      while (i < 4) { v |= u8().toLong << (8 * i); i += 1 }
      v
    }
    /** MSB-first packed bit vector. */
    def bits(n: Int): Array[Boolean] = {
      val out = new Array[Boolean](n)
      var b = 0; var mask = 0; var i = 0
      while (i < n) {
        if (mask == 0) { b = u8(); mask = 0x80 }
        out(i) = (b & mask) != 0
        mask >>= 1
        i += 1
      }
      out
    }
    /** AllAreDefined byte + optional bit vector (the kCRC prelude). */
    def definedBits(n: Int): Array[Boolean] =
      if (u8() != 0) Array.fill(n)(true) else bits(n)
    def expectEnd(what: String): Unit = {
      val id = number()
      if (id != KEnd) bad(f"$what not terminated (id 0x$id%02x)")
    }
  }

  private def readDigests(in: Reader, n: Int): Vector[Option[Long]] = {
    val defined = in.definedBits(n)
    Vector.tabulate(n)(i => if (defined(i)) Some(in.u32le()) else None)
  }

  private def readStreamsInfo(in: Reader): StreamsInfo = {
    var packPos = 0L
    var packSizes = Vector.empty[Long]
    var folders = Vector.empty[Folder]
    var folderCrcs = Vector.empty[Option[Long]]
    var numUnpack: Vector[Int] = Vector.empty
    var subSizes = Vector.empty[Long]
    var subCrcs = Vector.empty[Option[Long]]
    var sawSubStreams = false

    var id = in.number()
    while (id != KEnd) {
      id match {
        case KPackInfo =>
          packPos = in.number()
          val n = in.count("pack stream")
          var t = in.number()
          while (t != KEnd) {
            t match {
              case KSize => packSizes = Vector.fill(n)(in.number())
              case KCrc => readDigests(in, n) // pack CRCs: parsed, not binding
              case other => bad(f"unexpected PackInfo property 0x$other%02x")
            }
            t = in.number()
          }
          if (packSizes.length != n) bad("PackInfo without sizes")

        case KUnpackInfo =>
          if (in.number() != KFolder) bad("UnpackInfo without kFolder")
          val n = in.count("folder")
          if (in.u8() != 0) unsup("external folder data")
          var fs = Vector.empty[Folder]
          var i = 0
          while (i < n) { fs = fs :+ readFolder(in); i += 1 }
          if (in.number() != KCodersUnpackSize) bad("UnpackInfo without kCodersUnpackSize")
          folders = fs.map { f =>
            f.copy(unpackSizes = Vector.fill(f.totalOut)(in.number()))
          }
          var t = in.number()
          while (t != KEnd) {
            t match {
              case KCrc => folderCrcs = readDigests(in, n)
              case other => bad(f"unexpected UnpackInfo property 0x$other%02x")
            }
            t = in.number()
          }

        case KSubStreamsInfo =>
          sawSubStreams = true
          var t = in.number()
          var nums: Vector[Int] = Vector.fill(folders.length)(1)
          if (t == KNumUnpackStream) {
            nums = Vector.fill(folders.length)(in.count("substream"))
            t = in.number()
          }
          // sizes: all but the last substream of each folder; the last
          // is the folder remainder (7-zip's ReadSubStreamsInfo shape)
          val sizes = Vector.newBuilder[Long]
          var f = 0
          while (f < folders.length) {
            val k = nums(f)
            if (k > 0) {
              var sum = 0L
              var j = 1
              while (j < k) {
                val s = if (t == KSize) in.number() else bad("multi-substream folder without kSize")
                if (s < 0) bad(s"negative substream size $s")
                sizes += s; sum += s; j += 1
              }
              val last = folders(f).unpackSize - sum
              if (last < 0) bad(s"substream sizes overrun folder $f")
              sizes += last
            }
            f += 1
          }
          if (t == KSize) t = in.number()
          subSizes = sizes.result()
          // CRCs: only substreams whose digest isn't already pinned by a
          // single-substream folder CRC are listed
          val totalSubs = nums.sum
          val known = Array.fill(totalSubs)(Option.empty[Long])
          var base = 0
          f = 0
          while (f < folders.length) {
            if (nums(f) == 1) known(base) = folderCrcs.lift(f).flatten
            base += nums(f); f += 1
          }
          while (t != KEnd) {
            t match {
              case KCrc =>
                val unknownIdx = known.indices.filter(known(_).isEmpty)
                val ds = readDigests(in, unknownIdx.length)
                unknownIdx.zip(ds).foreach { case (i2, d) => known(i2) = d }
              case other => bad(f"unexpected SubStreamsInfo property 0x$other%02x")
            }
            t = in.number()
          }
          numUnpack = nums
          subCrcs = known.toVector

        case other => bad(f"unexpected StreamsInfo property 0x$other%02x")
      }
      id = in.number()
    }

    if (!sawSubStreams) {
      numUnpack = Vector.fill(folders.length)(1)
      subSizes = folders.map(_.unpackSize)
      subCrcs = folders.indices.map(f => folderCrcs.lift(f).flatten).toVector
    }

    // pack-stream layout: folders consume consecutive pack streams
    val firstPack = {
      var acc = 0
      folders.map { f => val v = acc; acc += f.numPackedStreams; v }
    }
    val needed = folders.foldLeft(0)(_ + _.numPackedStreams)
    if (needed > packSizes.length) bad(s"folders need $needed pack streams, ${packSizes.length} present")
    StreamsInfo(packPos, packSizes, folders, folderCrcs, firstPack,
      numUnpack, subSizes, subCrcs)
  }

  private implicit final class FolderOps(private val f: Folder) extends AnyVal {
    def numPackedStreams: Int = f.coders.map(_.numIn).sum - f.bindPairs.length
  }

  private def readFolder(in: Reader): Folder = {
    val numCoders = in.count("coder", MaxCoders)
    if (numCoders == 0) bad("folder with zero coders")
    val coders = Vector.fill(numCoders) {
      val flags = in.u8()
      val idSize = flags & 0x0f
      if ((flags & 0xc0) != 0) unsup("alternative-method coder flags")
      val idBytes = in.bytes(idSize)
      var id = 0L
      idBytes.foreach(b => id = (id << 8) | (b & 0xffL))
      val (nIn, nOut) =
        if ((flags & 0x10) != 0) (in.count("coder input", 64), in.count("coder output", 64))
        else (1, 1)
      val props =
        if ((flags & 0x20) != 0) in.bytes(in.sizeField()) else Array.emptyByteArray
      Coder(id, nIn, nOut, props)
    }
    val totalIn = coders.map(_.numIn).sum
    val totalOut = coders.map(_.numOut).sum
    val numBindPairs = totalOut - 1
    if (numBindPairs < 0 || numBindPairs > totalIn) bad("implausible bind-pair count")
    val pairs = Vector.fill(numBindPairs)((in.number(), in.number()))
    val numPacked = totalIn - numBindPairs
    val packed =
      if (numPacked == 1) {
        val bound = pairs.map(_._1.toInt).toSet
        Vector((0 until totalIn).find(!bound.contains(_))
          .getOrElse(bad("folder with no unbound input")).toLong)
      } else Vector.fill(numPacked)(in.number())
    Folder(coders, pairs, packed, Vector.empty)
  }

  private def readFilesInfo(in: Reader): FilesInfo = {
    val numFiles = in.count("file")
    var emptyStream = new Array[Boolean](numFiles)
    var emptyFile = Array.emptyBooleanArray
    var names = Vector.empty[String]
    var id = in.number()
    while (id != KEnd) {
      val size = in.sizeField()
      val endAt = in.off + size
      id match {
        case KEmptyStream =>
          emptyStream = in.bits(numFiles)
        case KEmptyFile =>
          emptyFile = in.bits(emptyStream.count(identity))
        case KAnti =>
          val anti = in.bits(emptyStream.count(identity))
          if (anti.exists(identity)) unsup("anti-file entries")
        case KName =>
          if (in.u8() != 0) unsup("external file names")
          val nameBytes = in.bytes(endAt - in.off)
          if (nameBytes.length % 2 != 0) bad("odd-length UTF-16 name block")
          val all = new String(nameBytes, java.nio.charset.StandardCharsets.UTF_16LE)
          if (all.nonEmpty && !all.endsWith("\u0000")) bad("unterminated file name")
          names = if (all.isEmpty) Vector.empty
            else all.dropRight(1).split("\u0000", -1).toVector
        case _ =>
          // mtime/attributes/dummy padding and friends: sized, skippable
          in.skip(endAt - in.off)
      }
      if (in.off != endAt) bad(f"property 0x$id%02x consumed past its declared size")
      id = in.number()
    }
    FilesInfo(numFiles, emptyStream, emptyFile, names)
  }

  // ---------------------------------------------------- folder decoding

  private def decodeFolder(archive: Array[Byte], si: StreamsInfo, f: Int): Array[Byte] = {
    val folder = si.folders(f)
    if (folder.coders.exists(c => (c.id >>> 8) == 0x06F107L || (c.id >>> 16) == 0x06F1L ||
        (c.id >>> 24) == 0x06L))
      throw new Refusal("encrypted", "AES-coded folder")
    if (folder.coders.length != 1 || folder.coders.head.numIn != 1 ||
        folder.coders.head.numOut != 1)
      unsup(s"${folder.coders.length}-coder folder (filter chains)")
    val coder = folder.coders.head
    val declared = folder.unpackSize
    if (declared < 0 || declared > graft.core.Budget.maxInflatedBytes)
      throw new Refusal("too_large", s"folder declares $declared bytes past the budget")
    if (declared > Int.MaxValue - 8)
      throw new Refusal("too_large", "folder output > 2 GiB")

    val packIdx = si.folderFirstPack(f)
    if (packIdx >= si.packSizes.length) bad("folder pack stream out of range")
    val packStart = 32L + si.packPos + si.packSizes.take(packIdx).sum
    val packSize = si.packSizes(packIdx)
    if (packStart < 32 || packSize < 0 || packStart + packSize > archive.length)
      truncated("pack stream past the end of the archive")
    val off = packStart.toInt
    val len = packSize.toInt

    val out: Array[Byte] = coder.id match {
      case MCopy =>
        if (coder.props.nonEmpty) bad("Copy coder with properties")
        if (len.toLong != declared) bad(s"Copy folder: $len packed vs $declared declared")
        java.util.Arrays.copyOfRange(archive, off, off + len)
      case MLzma1 =>
        Xz.decodeLzma1Raw(archive, off, len, coder.props, declared)
      case MLzma2 =>
        if (coder.props.length != 1) bad(s"LZMA2 props of ${coder.props.length} bytes")
        val p = coder.props(0) & 0xff
        if (p > 40) bad(s"LZMA2 dict-size props $p")
        val dict = if (p == 40) 0xFFFFFFFFL else (2L | (p & 1)) << (p / 2 + 11)
        Xz.decodeLzma2Raw(archive, off, off + len, dict)
      case MDeflate =>
        inflateRaw(archive, off, len, declared)
      case MBzip2 =>
        Bzip2.decompress(java.util.Arrays.copyOfRange(archive, off, off + len))
      case MDelta | MBcj =>
        unsup(f"filter coder 0x${coder.id}%x without a chain")
      case other =>
        unsup(f"coder method 0x$other%x")
    }
    if (out.length.toLong != declared)
      bad(s"folder $f decodes to ${out.length} of $declared bytes")
    out
  }

  /** Raw (headerless) DEFLATE, the 7z 0x040108 coder. */
  private def inflateRaw(src: Array[Byte], off: Int, len: Int, declared: Long): Array[Byte] = {
    val inf = new java.util.zip.Inflater(true)
    inf.setInput(src, off, len)
    val out = new Array[Byte]((declared + 1).toInt) // +1 detects overlong streams
    try {
      var n = 0
      while (!inf.finished() && n < out.length) {
        val got = inf.inflate(out, n, out.length - n)
        if (got == 0 && inf.needsInput()) truncated("deflate stream ends early")
        n += got
      }
      if (n.toLong != declared) bad(s"deflate folder yields $n of $declared bytes")
      java.util.Arrays.copyOf(out, n)
    } catch {
      case e: java.util.zip.DataFormatException => bad(s"deflate: ${e.getMessage}")
    } finally inf.end()
  }

  // =============================================================== write

  /** Deterministic solid archive: all member bodies concatenate into ONE
    * LZMA1-coded folder (the layout `7z a -m0=lzma` produces), names in
    * UTF-16LE, per-member CRCs in SubStreamsInfo, no timestamps or
    * attributes — identical inputs yield identical bytes (reproducible
    * shards, the [[Zip.write]] convention). Empty-bodied members ride
    * the kEmptyStream/kEmptyFile bits like real 7z zero-byte files.
    */
  def write(members: Seq[SzMember], preset: Int = 3): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      members.foldLeft(64)(_ + _.body.length / 2 + 64))
    out.write(Magic, 0, 6)
    out.write(0); out.write(4) // version 0.4

    val nonEmpty = members.filter(_.body.nonEmpty)
    val solid = new Array[Byte](nonEmpty.foldLeft(0L)(_ + _.body.length.toLong) match {
      case n if n > Int.MaxValue - 8 => throw new Refusal("too_large", "archive > 2 GiB solid block")
      case n => n.toInt
    })
    var pos = 0
    nonEmpty.foreach { m =>
      System.arraycopy(m.body, 0, solid, pos, m.body.length); pos += m.body.length
    }
    val (props, packed) =
      if (solid.isEmpty) (Array.emptyByteArray, Array.emptyByteArray)
      else Xz.encodeLzma1Raw(solid, preset)

    val hdr = new HeaderWriter
    hdr.byte(KHeader)
    if (packed.nonEmpty) {
      hdr.byte(KMainStreamsInfo)
      hdr.byte(KPackInfo)
      hdr.number(0) // packPos
      hdr.number(1) // one pack stream
      hdr.byte(KSize); hdr.number(packed.length.toLong)
      hdr.byte(KEnd)
      hdr.byte(KUnpackInfo)
      hdr.byte(KFolder)
      hdr.number(1) // one folder
      hdr.byte(0) // internal
      hdr.number(1) // one coder in the folder
      hdr.byte(0x23) // coder flags: id size 3 | has-attributes
      hdr.byte(0x03); hdr.byte(0x01); hdr.byte(0x01) // LZMA1
      hdr.number(props.length.toLong); hdr.raw(props)
      hdr.byte(KCodersUnpackSize); hdr.number(solid.length.toLong)
      hdr.byte(KEnd)
      hdr.byte(KSubStreamsInfo)
      hdr.byte(KNumUnpackStream); hdr.number(nonEmpty.length.toLong)
      if (nonEmpty.length > 1) {
        hdr.byte(KSize)
        nonEmpty.init.foreach(m => hdr.number(m.body.length.toLong))
      }
      hdr.byte(KCrc)
      hdr.byte(1) // all defined
      nonEmpty.foreach { m =>
        val c = new CRC32; c.update(m.body); hdr.u32le(c.getValue)
      }
      hdr.byte(KEnd)
      hdr.byte(KEnd) // StreamsInfo
    }
    if (members.nonEmpty) {
      hdr.byte(KFilesInfo)
      hdr.number(members.length.toLong)
      if (members.exists(_.body.isEmpty)) {
        val bits = members.map(_.body.isEmpty)
        hdr.byte(KEmptyStream); hdr.sized(w => w.bits(bits))
        hdr.byte(KEmptyFile); hdr.sized(w => w.bits(Seq.fill(bits.count(identity))(true)))
      }
      hdr.byte(KName)
      hdr.sized { w =>
        w.byte(0) // internal names
        members.foreach { m =>
          w.raw((m.name + "\u0000").getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
        }
      }
      hdr.byte(KEnd) // FilesInfo
    }
    hdr.byte(KEnd) // Header
    val header = hdr.result()

    // signature header back-patch: CRCs + offsets
    val hcrc = new CRC32; hcrc.update(header)
    val start = new Array[Byte](20)
    def p64(a: Array[Byte], at: Int, v: Long): Unit = {
      var i = 0; while (i < 8) { a(at + i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    }
    def p32(a: Array[Byte], at: Int, v: Long): Unit = {
      var i = 0; while (i < 4) { a(at + i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    }
    p64(start, 0, packed.length.toLong) // next-header offset (pack bytes precede it)
    p64(start, 8, header.length.toLong)
    p32(start, 16, hcrc.getValue)
    val scrc = new CRC32; scrc.update(start)
    val four = new Array[Byte](4); p32(four, 0, scrc.getValue)
    out.write(four, 0, 4)
    out.write(start, 0, 20)
    out.write(packed, 0, packed.length)
    out.write(header, 0, header.length)
    out.toByteArray
  }

  private final class HeaderWriter {
    private val bos = new java.io.ByteArrayOutputStream(256)
    def byte(b: Int): Unit = bos.write(b)
    def raw(b: Array[Byte]): Unit = bos.write(b, 0, b.length)
    def u32le(v: Long): Unit = {
      var i = 0; while (i < 4) { bos.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    /** REAL_UINT64 encode — the mirror of Reader.number (7-zip's
      * COutArchive::WriteNumber shape).
      */
    def number(v: Long): Unit = {
      require(v >= 0, s"negative 7z number $v")
      var firstByte = 0
      var mask = 0x80
      var i = 0
      var break = false
      while (i < 8 && !break) {
        if (v < (1L << (7 * (i + 1)))) {
          firstByte |= (v >>> (8 * i)).toInt
          break = true
        } else {
          firstByte |= mask
          mask >>= 1
          i += 1
        }
      }
      bos.write(firstByte)
      var j = 0
      while (j < i) { bos.write(((v >>> (8 * j)) & 0xff).toInt); j += 1 }
    }
    def bits(b: Seq[Boolean]): Unit = {
      var acc = 0; var mask = 0x80
      b.foreach { bit =>
        if (bit) acc |= mask
        mask >>= 1
        if (mask == 0) { bos.write(acc); acc = 0; mask = 0x80 }
      }
      if (mask != 0x80) bos.write(acc)
    }
    /** a property body with its leading size number. */
    def sized(f: HeaderWriter => Unit): Unit = {
      val inner = new HeaderWriter
      f(inner)
      val b = inner.result()
      number(b.length.toLong)
      raw(b)
    }
    def result(): Array[Byte] = bos.toByteArray
  }
}
