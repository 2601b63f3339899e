package graft.ops

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII

import graft.core.Refusal

/** USTAR tar archives (POSIX.1-1988, public layout) — the container behind
  * WebDataset training shards: members named `{key}.{ext}`, consecutive
  * members sharing a key form one training sample, shards stream
  * sequentially so a 1000-executor job maps shards to partitions and
  * reads each exactly once, in order, with no seeks.
  *
  * Pure JVM writer + strict reader (checksum-verified headers, typed
  * refusals `bad_checksum` / `truncated` / `bad_octal` — the WARC/media
  * fail-stop contract). The reference has no container ingestion; this is
  * north-star extension surface.
  */
object Tar {

  final case class TarEntry(name: String, body: Array[Byte])

  private def fail(kind: String, msg: String): Nothing = throw new Refusal(kind, msg)

  private val BlockSize = 512

  // ------------------------------------------------------------------
  // writer
  // ------------------------------------------------------------------

  /** Serialize entries as a USTAR archive (deterministic: fixed mode/
    * uid/gid/mtime) terminated by two zero blocks.
    */
  def write(entries: Seq[TarEntry]): Array[Byte] = {
    val out = new ByteArrayOutputStream(entries.map(_.body.length + 2 * BlockSize).sum)
    entries.foreach { e =>
      val nameBytes = e.name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val fits = nameBytes.length <= 100 &&
        e.name.forall(c => c >= 0x20 && c < 0x7f)
      if (!fits) {
        // pax extended header (POSIX.1-2001 'x'): a `path=` record
        // overrides the next member's name — what GNU/bsdtar emit for
        // >100-byte or non-ASCII names
        val rec = {
          val payload = (" path=" + e.name + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          // record length counts its own decimal digits too
          var len = payload.length + 1
          while (s"$len".length + payload.length != len)
            len = s"$len".length + payload.length
          s"$len".getBytes(US_ASCII) ++ payload
        }
        out.write(header("PaxHeaders/" + e.name.take(80).filter(c =>
          c >= 0x20 && c < 0x7f), rec.length, 'x'))
        out.write(rec)
        val rpad = (BlockSize - rec.length % BlockSize) % BlockSize
        out.write(new Array[Byte](rpad))
        out.write(header("_pax_placeholder_", e.body.length, '0'))
      } else out.write(header(e.name, e.body.length, '0'))
      out.write(e.body)
      val pad = (BlockSize - e.body.length % BlockSize) % BlockSize
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](2 * BlockSize))
    out.toByteArray
  }

  private def header(name: String, size: Int, typeflag: Char): Array[Byte] = {
    require(name.getBytes(US_ASCII).length <= 100, s"name too long: $name")
    val h = new Array[Byte](BlockSize)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes(US_ASCII); System.arraycopy(b, 0, h, off, b.length)
    }
    def putOctal(off: Int, width: Int, v: Long): Unit =
      put(off, ("%0" + (width - 1) + "o").format(v)) // NUL-terminated by the zero fill
    put(0, name)
    putOctal(100, 8, 420 /* 0644 */)
    putOctal(108, 8, 0); putOctal(116, 8, 0)
    putOctal(124, 12, size.toLong)
    putOctal(136, 12, 0L) // fixed mtime: deterministic archives
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum field as spaces
    h(156) = typeflag.toByte
    put(257, "ustar"); h(262) = 0; put(263, "00")
    var sum = 0L; var i = 0
    while (i < BlockSize) { sum += h(i) & 0xff; i += 1 }
    put(148, "%06o".format(sum)); h(154) = 0; h(155) = ' '
    h
  }

  // ------------------------------------------------------------------
  // reader
  // ------------------------------------------------------------------

  /** Parse a tar byte string. Strict: header checksums verified, octal
    * fields validated, truncation refused; stops at the first zero block.
    */
  def read(bytes: Array[Byte]): Seq[TarEntry] = {
    val entries = Seq.newBuilder[TarEntry]
    var off = 0
    var done = false
    // pax/GNU metadata that applies to the NEXT regular member
    var pendingName: String = null
    var globalName: String = null
    while (!done) {
      if (off + BlockSize > bytes.length) fail("truncated", s"header block at $off")
      if (isZeroBlock(bytes, off)) done = true
      else {
        var stored = 0L; var computed = 0L
        var i = 0
        while (i < BlockSize) {
          val b = bytes(off + i) & 0xff
          computed += (if (i >= 148 && i < 156) ' '.toInt else b)
          i += 1
        }
        stored = octal(bytes, off + 148, 8)
        if (stored != computed)
          fail("bad_checksum", s"header checksum at $off: stored $stored != $computed")
        val name = cstr(bytes, off, 100)
        val size = sizeField(bytes, off + 124)
        if (size < 0 || size > Int.MaxValue) fail("bad_octal", s"size $size at $off")
        val dataEnd = off + BlockSize + size.toInt
        if (dataEnd > bytes.length) fail("truncated", s"member '$name' data overruns file")
        val typeflag = bytes(off + 156)
        val data = () => java.util.Arrays.copyOfRange(bytes, off + BlockSize, dataEnd)
        typeflag match {
          case '0' | 0 =>
            val finalName =
              if (pendingName != null) pendingName
              else if (globalName != null) globalName
              else prefixedName(bytes, off, name)
            entries += TarEntry(finalName, data())
            pendingName = null
          case 'x' => // pax extended header: applies to the next member
            paxRecords(data()).get("path").foreach(pendingName = _)
          case 'g' => // pax global header: a default for ALL later members
            paxRecords(data()).get("path").foreach(globalName = _)
          case 'L' => // GNU long name: data = next member's name, NUL-ended
            val d = data()
            var n = 0
            while (n < d.length && d(n) != 0) n += 1
            pendingName = strictUtf8(d, 0, n)
          case _ =>
            // directories/links/'K' long-linkname: no sample data —
            // skipped, not refused (their data region is still walked).
            // A pending pax/GNU name override applies to THIS member
            // (per POSIX: the very next file of any type), so it must be
            // CONSUMED here — leaving it set would rename the next
            // regular file (round-16 review find).
            if (typeflag != 'K') pendingName = null
        }
        val pad = (BlockSize - size.toInt % BlockSize) % BlockSize
        off = dataEnd + pad
      }
    }
    entries.result()
  }

  /** POSIX ustar prefix field (offset 345, 155 bytes): a non-empty
    * prefix joins the name field with '/' — the 100-255-byte-name form
    * plain ustar writers emit without pax (round-16 review find: a
    * prefix-split name was silently truncated to its basename).
    */
  private def prefixedName(b: Array[Byte], off: Int, name: String): String = {
    // only trust the field on the FULL POSIX magic+version
    // ("ustar\0" + "00"): GNU-format headers read "ustar  \0" here and
    // store atime/ctime octal at offset 345 — honoring the prefix there
    // would silently rename members (round-16 advice); pre-POSIX tars
    // used these bytes for other things entirely
    val magic = new String(b, off + 257, 8, US_ASCII)
    if (magic != "ustar\u000000") return name
    val prefix = cstr(b, off + 345, 155)
    if (prefix.isEmpty) name else s"$prefix/$name"
  }

  /** pax records (POSIX.1-2001 §pax): `<len> <key>=<value>
` where len
    * counts the whole record including its own digits; values are UTF-8.
    * Later duplicates win (the standard override rule).
    */
  private def paxRecords(d: Array[Byte]): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    var p = 0
    while (p < d.length) {
      var q = p
      var len = 0L
      while (q < d.length && d(q) >= '0' && d(q) <= '9') {
        len = len * 10 + (d(q) - '0')
        if (len > d.length) fail("bad_header", s"pax record length $len at $p")
        q += 1
      }
      if (q == p || q >= d.length || d(q) != ' ')
        fail("bad_header", s"malformed pax record at $p")
      val end = p + len.toInt
      if (len < (q - p) + 2 || end > d.length || d(end - 1) != '\n')
        fail("bad_header", s"pax record of $len bytes at $p")
      val body = strictUtf8(d, q + 1, end - q - 2)
      val eq = body.indexOf('=')
      if (eq < 1) fail("bad_header", s"pax record without '=' at $p")
      out(body.substring(0, eq)) = body.substring(eq + 1)
      p = end
    }
    out.toMap
  }

  /** the 12-byte size field: octal, or GNU base-256 when the first byte
    * has its high bit set (the >8 GiB form modern tars emit)
    */
  private def sizeField(b: Array[Byte], off: Int): Long = {
    if ((b(off) & 0x80) != 0) {
      var v = (b(off) & 0x7f).toLong
      var i = 1
      while (i < 12) {
        if (v > (Long.MaxValue >> 8)) fail("bad_octal", "base-256 size overflow")
        v = (v << 8) | (b(off + i) & 0xff)
        i += 1
      }
      v
    } else octal(b, off, 12)
  }

  /** Fail-stop safe read: `Right(entries)` or `Left(errorKind)`. */
  def readSafe(bytes: Array[Byte]): Either[String, Seq[TarEntry]] =
    Refusal.attempt(read(bytes), "bad_header")

  private def isZeroBlock(b: Array[Byte], off: Int): Boolean = {
    var i = 0
    while (i < BlockSize) { if (b(off + i) != 0) return false; i += 1 }
    true
  }

  private def cstr(b: Array[Byte], off: Int, max: Int): String = {
    var n = 0
    while (n < max && b(off + n) != 0) n += 1
    strictUtf8(b, off, n)
  }

  /** member names / pax values / GNU longnames must BE UTF-8: the JDK's
    * replacement decode would silently rename a member (round-16
    * differential-parity find — python tarfile's surrogateescape names
    * fail its own canon encode, i.e. it effectively refuses too)
    */
  private def strictUtf8(b: Array[Byte], off: Int, len: Int): String = {
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try dec.decode(java.nio.ByteBuffer.wrap(b, off, len)).toString
    catch {
      case _: java.nio.charset.CharacterCodingException =>
        fail("bad_header", s"invalid UTF-8 in name/value at $off")
    }
  }

  private def octal(b: Array[Byte], off: Int, width: Int): Long = {
    var v = 0L; var i = 0; var seen = false
    while (i < width) {
      val c = b(off + i)
      if (c >= '0' && c <= '7') { v = v * 8 + (c - '0'); seen = true }
      else if (c == 0 || c == ' '.toByte) { /* terminator/pad */ }
      else fail("bad_octal", s"non-octal byte $c in field at ${off + i}")
      i += 1
    }
    if (!seen) fail("bad_octal", s"empty octal field at $off")
    v
  }

  // ------------------------------------------------------------------
  // WebDataset convention
  // ------------------------------------------------------------------

  /** Group a shard's entries into WebDataset samples: members sharing a
    * basename stem (`name` up to the first '.') form one sample, keyed by
    * stem, as (extension → body). Order inside the shard is preserved in
    * the returned sequence (first appearance of each stem).
    */
  def samples(entries: Seq[TarEntry]): Seq[(String, Map[String, Array[Byte]])] = {
    val order = scala.collection.mutable.LinkedHashMap
      .empty[String, Map[String, Array[Byte]]]
    entries.foreach { e =>
      val dot = e.name.indexOf('.')
      val (stem, ext) =
        if (dot < 0) (e.name, "") else (e.name.substring(0, dot), e.name.substring(dot + 1))
      order.updateWith(stem) {
        case Some(m) => Some(m + (ext -> e.body))
        case None => Some(Map(ext -> e.body))
      }
    }
    order.toSeq
  }
}
