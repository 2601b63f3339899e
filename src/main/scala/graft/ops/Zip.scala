package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import graft.core.Refusal

/** ZIP shard container (PKWARE APPNOTE / RFC 1951 deflate via the JDK):
  * the third shard format a training pipeline meets (gzip members →
  * WARC, USTAR → WebDataset, ZIP → document dumps / office containers).
  * Deterministic writer (fixed timestamps, stable order) + strict reader
  * with the family's typed fail-stop refusal contract.
  */
object Zip {

  final case class ZipMember(name: String, body: Array[Byte])

  /** Deterministic archive: fixed DOS epoch time so identical inputs
    * yield identical bytes (reproducible shards).
    */
  def write(members: Seq[ZipMember]): Array[Byte] = {
    val out = new ByteArrayOutputStream(members.map(_.body.length + 64).sum)
    val z = new ZipOutputStream(out)
    members.foreach { m =>
      val e = new ZipEntry(m.name)
      e.setTime(315532800000L) // 1980-01-01, the DOS-time floor
      z.putNextEntry(e)
      z.write(m.body)
      z.closeEntry()
    }
    z.close()
    out.toByteArray
  }

  /** Deterministic ZIP64 archive (APPNOTE 4.5.3 extended-information
    * extras + 4.3.14/4.3.15 zip64 EOCD record and locator), the layout a
    * >4 GiB document dump ships. Forced: every entry carries the 64-bit
    * sizes in a 0x0001 extra and the EOCD holds the 0xFFFF/0xFFFFFFFF
    * sentinels, so small fixtures exercise the exact structures a
    * 100 TB-scale archive would — the format, not the bulk, is what the
    * reader has to get right.
    */
  def writeZip64(members: Seq[ZipMember]): Array[Byte] = {
    val out = new ByteArrayOutputStream(members.map(_.body.length + 128).sum + 128)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def w32(v: Long): Unit = { w16((v & 0xffff).toInt); w16(((v >>> 16) & 0xffff).toInt) }
    def w64(v: Long): Unit = { w32(v & 0xffffffffL); w32(v >>> 32) }
    def sig(a: Int, b: Int): Unit = { out.write('P'); out.write('K'); out.write(a); out.write(b) }
    val dosDate = 0x21 // 1980-01-01, the DOS-time floor (reproducible shards)
    final case class Entry(name: Array[Byte], crc: Long, comp: Array[Byte],
      uncompLen: Long, offset: Long)
    val entries = members.map { m =>
      val offset = out.size().toLong
      val crc = new java.util.zip.CRC32
      crc.update(m.body)
      val defl = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      defl.setInput(m.body); defl.finish()
      val cbuf = new ByteArrayOutputStream(m.body.length / 2 + 64)
      val tmp = new Array[Byte](8192)
      while (!defl.finished()) cbuf.write(tmp, 0, defl.deflate(tmp))
      defl.end()
      val comp = cbuf.toByteArray
      val name = m.name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      sig(0x03, 0x04); w16(45); w16(0x0800); w16(8) // v4.5, UTF-8 names, deflate
      w16(0); w16(dosDate); w32(crc.getValue)
      w32(0xffffffffL); w32(0xffffffffL) // sizes live in the zip64 extra
      w16(name.length); w16(20)
      out.write(name)
      w16(0x0001); w16(16); w64(m.body.length.toLong); w64(comp.length.toLong)
      out.write(comp)
      Entry(name, crc.getValue, comp, m.body.length.toLong, offset)
    }
    val cdStart = out.size().toLong
    entries.foreach { e =>
      sig(0x01, 0x02); w16(45); w16(45); w16(0x0800); w16(8)
      w16(0); w16(dosDate); w32(e.crc)
      w32(0xffffffffL); w32(0xffffffffL)
      w16(e.name.length); w16(28); w16(0) // extra carries sizes + offset
      w16(0); w16(0); w32(0) // disk, internal attrs, external attrs
      w32(0xffffffffL) // local-header offset sentinel
      out.write(e.name)
      w16(0x0001); w16(24); w64(e.uncompLen); w64(e.comp.length.toLong)
      w64(e.offset)
    }
    val cdLen = out.size().toLong - cdStart
    val z64At = out.size().toLong
    sig(0x06, 0x06); w64(44); w16(45); w16(45); w32(0); w32(0)
    w64(entries.length.toLong); w64(entries.length.toLong)
    w64(cdLen); w64(cdStart)
    sig(0x06, 0x07); w32(0); w64(z64At); w32(1) // locator
    sig(0x05, 0x06); w16(0); w16(0); w16(0xffff); w16(0xffff)
    w32(0xffffffffL); w32(0xffffffffL); w16(0)
    out.toByteArray
  }

  /** Strict sequential read (the streaming shape: central directory is
    * ignored, entries stream in file order like a 100 TB scan would).
    */
  def read(bytes: Array[Byte]): Seq[ZipMember] = {
    val z = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = Seq.newBuilder[ZipMember]
    val streamedNames = Seq.newBuilder[String]
    try {
      var e = z.getNextEntry
      while (e != null) {
        streamedNames += e.getName
        if (!e.isDirectory) out += ZipMember(e.getName, readCapped(z, e.getName))
        z.closeEntry()
        e = z.getNextEntry
      }
    } catch {
      case ex: java.util.zip.ZipException =>
        throw new Refusal("bad_zip", ex.getMessage)
      case _: java.io.EOFException =>
        throw new Refusal("truncated", "zip stream ends early")
    } finally z.close()
    // ZipInputStream treats a corrupted local-header magic as clean EOF
    // (getNextEntry -> null), silently TRUNCATING the member list, and a
    // streaming walk only ever sees LOCAL names while every central-
    // directory reader (zipfile/numpy) resolves members by CENTRAL names
    // — two readers of one corrupt archive would disagree on the member
    // list (round-15 numpy-parity find). Cross-check both against the
    // central directory before trusting the stream. Membership, not
    // sequence: APPNOTE lets the central directory be ordered differently
    // from the local layout (zipfile accepts that), so compare sorted.
    val local = streamedNames.result()
    val central = centralNames(bytes)
    if (local.sorted != central.sorted)
      throw new Refusal("bad_zip",
        s"streamed ${local.length} entries ${local.take(4).mkString(",")}… " +
          s"disagree with the central directory's ${central.length}")
    out.result()
  }

  /** entry names from the central directory, in record order; a zip with
    * no (or a lying) EOCD/central layout is malformed. ZIP64 sentinels in
    * the EOCD (entry count 0xFFFF / offset 0xFFFFFFFF) route through the
    * zip64 EOCD locator + record (APPNOTE 4.3.14-15) — the layout every
    * >4 GiB document dump ships.
    */
  private def centralNames(bytes: Array[Byte]): Seq[String] = {
    def fail(msg: String): Nothing = throw new Refusal("bad_zip", msg)
    def u16(p: Int): Int = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
    def u32(p: Int): Long = (u16(p).toLong) | (u16(p + 2).toLong << 16)
    def u64(p: Int): Long = u32(p) | (u32(p + 4) << 32)
    // locate EOCD (PK\05\06) scanning back through the <=64 KiB comment
    val min = math.max(0, bytes.length - 22 - 0xffff)
    var p = bytes.length - 22
    var eocd = -1
    while (p >= min && eocd < 0) {
      if (bytes(p) == 'P' && bytes(p + 1) == 'K' &&
          bytes(p + 2) == 0x05 && bytes(p + 3) == 0x06 &&
          p + 22 + u16(p + 20) == bytes.length) eocd = p
      p -= 1
    }
    if (eocd < 0) fail("no end-of-central-directory record")
    var n = u16(eocd + 10).toLong
    var off = u32(eocd + 16)
    // An EOCD field at its max value is only a zip64 sentinel when a
    // PK\x06\x07 locator actually precedes the EOCD: an archive with
    // exactly 65535 entries and no zip64 record is legal per APPNOTE and
    // accepted by python zipfile (round-16 advice — the unconditional
    // sentinel read was a false typed refusal).
    val loc = eocd - 20
    val hasLocator = loc >= 0 && bytes(loc) == 'P' && bytes(loc + 1) == 'K' &&
      bytes(loc + 2) == 0x06 && bytes(loc + 3) == 0x07
    if ((n == 0xffff || off == 0xffffffffL) && hasLocator) {
      // zip64: the locator sits immediately before the EOCD and points at
      // the zip64 EOCD record, which carries the real 64-bit fields
      if (u32(loc + 16) != 1L) fail("multi-disk zip64 archive")
      val z64 = u64(loc + 8)
      if (z64 < 0 || z64 + 56 > loc)
        fail("zip64 EOCD offset out of range")
      val z = z64.toInt
      if (!(bytes(z) == 'P' && bytes(z + 1) == 'K' &&
          bytes(z + 2) == 0x06 && bytes(z + 3) == 0x06))
        fail("bad zip64 EOCD magic")
      n = u64(z + 32)
      if (n != u64(z + 24)) fail("zip64 disk/total entry counts disagree")
      off = u64(z + 48)
      if (off < 0 || off > z64) fail("zip64 central offset out of range")
    } else if (off > eocd) fail("central directory offset out of range")
    if (n > bytes.length / 46) fail("central entry count exceeds archive")
    val names = Seq.newBuilder[String]
    var i = 0L
    var q = off.toInt
    while (i < n) {
      if (q + 46 > eocd) fail("central record past EOCD")
      if (!(bytes(q) == 'P' && bytes(q + 1) == 'K' &&
          bytes(q + 2) == 0x01 && bytes(q + 3) == 0x02))
        fail(s"bad central record magic at $q")
      val nameLen = u16(q + 28)
      val extraLen = u16(q + 30)
      val commentLen = u16(q + 32)
      if (q + 46 + nameLen > eocd) fail("central name past EOCD")
      names += new String(bytes, q + 46, nameLen,
        java.nio.charset.StandardCharsets.UTF_8)
      q += 46 + nameLen + extraLen + commentLen
      i += 1
    }
    names.result()
  }

  /** Entry bytes with the zip-bomb guard: a tiny DEFLATE entry can
    * legally inflate ~1032x, so the read is capped by
    * [[graft.core.Budget.maxInflatedBytes]] (round 12) — the declared
    * uncompressed size in the local header is attacker-controlled and
    * can't be trusted as the bound.
    */
  private def readCapped(z: ZipInputStream, name: String): Array[Byte] = {
    val cap = graft.core.Budget.maxInflatedBytes
    val out = new ByteArrayOutputStream(4096)
    val buf = new Array[Byte](8192)
    var n = z.read(buf)
    while (n > 0) {
      out.write(buf, 0, n)
      if (out.size().toLong > cap)
        throw new Refusal("too_large",
          s"zip entry '$name' inflates past $cap bytes")
      n = z.read(buf)
    }
    out.toByteArray
  }

  /** Fail-stop safe read: `Right(members)` or `Left(errorKind)`. */
  def readSafe(bytes: Array[Byte]): Either[String, Seq[ZipMember]] =
    Refusal.attempt(read(bytes), "bad_zip")
}
