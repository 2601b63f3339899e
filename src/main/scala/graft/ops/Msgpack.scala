package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import graft.core.Refusal
import graft.etl.{JArr, JBool, JFloat, JInt, JNull, JObj, JStr, JVal}

/** MessagePack codec over the repo's JSON value model ([[graft.etl.JVal]])
  * — the compact record format training-data and feature-store shards
  * ship when JSONL is too fat (one type byte + payload per value instead
  * of text). Written against the PUBLIC msgpack spec only (format byte
  * table: fixint/fixstr/fixarray/fixmap, nil/bool, int8-64/uint8-64,
  * float64, str8/16/32, bin8/16/32, array16/32, map16/32); fixtures from
  * an independent python transcription of the same table
  * (tools/make_msgpack_fixture.py), MsgpackSpec pins both directions.
  *
  * The writer emits the CANONICAL smallest encoding (what msgpack-python
  * produces for the same values), so round trips are byte-stable. The
  * reader refuses rot with typed kinds: `truncated` (any field running
  * off the buffer), `bad_type` (0xc1 — the spec's never-used byte — or
  * ext/float32/uint64-overflow forms we don't model), `too_large`
  * (declared string/bin/array/map counts past
  * [[graft.core.Budget.maxInflatedBytes]], checked BEFORE allocation),
  * `trailing_garbage` (bytes after the last record).
  *
  * Scale shape: one shard = a concatenation of records, encoded/decoded
  * inside a per-group map — the container-family contract.
  */
object Msgpack {

  private def fail(kind: String, msg: String): Nothing =
    throw new Refusal(kind, s"$kind: $msg")

  // ------------------------------------------------------------- write --

  def encode(v: JVal): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(256)
    enc(out, v)
    out.toByteArray
  }

  /** one shard = records back to back (the msgpack streaming convention) */
  def encodeAll(vs: Seq[JVal]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1024)
    vs.foreach(enc(out, _))
    out.toByteArray
  }

  private def be16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >> 8) & 0xff); out.write(v & 0xff)
  }
  private def be32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >> 24) & 0xff); out.write((v >> 16) & 0xff)
    out.write((v >> 8) & 0xff); out.write(v & 0xff)
  }
  private def be64(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    be32(out, (v >>> 32).toInt); be32(out, v.toInt)
  }

  private def enc(out: java.io.ByteArrayOutputStream, v: JVal): Unit = v match {
    case JNull     => out.write(0xc0)
    case JBool(b)  => out.write(if (b) 0xc3 else 0xc2)
    case JInt(bi) =>
      if (!bi.isValidLong) fail("bad_type", s"int out of int64 range: $bi")
      val i = bi.toLong
      if (i >= 0) {
        if (i < 0x80) out.write(i.toInt)
        else if (i < 0x100) { out.write(0xcc); out.write(i.toInt) }
        else if (i < 0x10000) { out.write(0xcd); be16(out, i.toInt) }
        else if (i < 0x100000000L) { out.write(0xce); be32(out, i.toInt) }
        else { out.write(0xcf); be64(out, i) }
      } else {
        if (i >= -32) out.write((i & 0xff).toInt) // negative fixint 0xe0-0xff
        else if (i >= Byte.MinValue) { out.write(0xd0); out.write(i.toInt & 0xff) }
        else if (i >= Short.MinValue) { out.write(0xd1); be16(out, i.toInt & 0xffff) }
        else if (i >= Int.MinValue) { out.write(0xd2); be32(out, i.toInt) }
        else { out.write(0xd3); be64(out, i) }
      }
    case JFloat(d) => out.write(0xcb); be64(out, java.lang.Double.doubleToLongBits(d))
    case JStr(s) =>
      val b = s.getBytes(UTF_8)
      if (b.length < 32) out.write(0xa0 | b.length)
      else if (b.length < 0x100) { out.write(0xd9); out.write(b.length) }
      else if (b.length < 0x10000) { out.write(0xda); be16(out, b.length) }
      else { out.write(0xdb); be32(out, b.length) }
      out.write(b, 0, b.length)
    case JArr(items) =>
      if (items.length < 16) out.write(0x90 | items.length)
      else if (items.length < 0x10000) { out.write(0xdc); be16(out, items.length) }
      else { out.write(0xdd); be32(out, items.length) }
      items.foreach(enc(out, _))
    case JObj(fields) =>
      if (fields.length < 16) out.write(0x80 | fields.length)
      else if (fields.length < 0x10000) { out.write(0xde); be16(out, fields.length) }
      else { out.write(0xdf); be32(out, fields.length) }
      fields.foreach { case (k, fv) => enc(out, JStr(k)); enc(out, fv) }
  }

  // -------------------------------------------------------------- read --

  private final class Reader(b: Array[Byte]) {
    var pos = 0
    private def need(n: Int): Unit =
      if (pos + n > b.length) fail("truncated", s"need $n at $pos of ${b.length}")
    def u8(): Int = { need(1); val v = b(pos) & 0xff; pos += 1; v }
    def be16(): Int = { need(2); val v = ((b(pos) & 0xff) << 8) | (b(pos + 1) & 0xff); pos += 2; v }
    def be32(): Int = { need(4)
      val v = ((b(pos) & 0xff) << 24) | ((b(pos + 1) & 0xff) << 16) |
        ((b(pos + 2) & 0xff) << 8) | (b(pos + 3) & 0xff)
      pos += 4; v }
    def be64(): Long = { (be32().toLong << 32) | (be32() & 0xffffffffL) }
    def bytes(n: Int): Array[Byte] = { need(n); val a = java.util.Arrays.copyOfRange(b, pos, pos + n); pos += n; a }
    def done: Boolean = pos >= b.length
  }

  private def capLen(n: Long, what: String): Int = {
    if (n < 0 || n > graft.core.Budget.maxInflatedBytes)
      fail("too_large", s"declared $what length $n")
    n.toInt
  }

  /** the spec says str payloads MUST be valid UTF-8; silently decoding
    * invalid sequences to replacement characters morphs data (round-15
    * parity vs msgpack-python, which refuses them too)
    */
  private def utf8Strict(b: Array[Byte]): String = {
    val dec = UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try dec.decode(java.nio.ByteBuffer.wrap(b)).toString
    catch {
      case _: java.nio.charset.CharacterCodingException =>
        fail("bad_type", "invalid UTF-8 in str")
    }
  }

  private def dec(r: Reader, depth: Int): JVal = {
    if (depth > 64) fail("bad_type", "nesting past 64")
    val t = r.u8()
    if (t < 0x80) JInt(BigInt(t))
    else if (t < 0x90) obj(r, t & 0x0f, depth)
    else if (t < 0xa0) arr(r, t & 0x0f, depth)
    else if (t < 0xc0) JStr(utf8Strict(r.bytes(t & 0x1f)))
    else if (t >= 0xe0) JInt(BigInt(t - 0x100))
    else t match {
      case 0xc0 => JNull
      case 0xc2 => JBool(false)
      case 0xc3 => JBool(true)
      case 0xc4 | 0xc5 | 0xc6 => // bin: surfaced as a latin-1 string tagging isn't
        // modeled in JVal; refuse rather than silently re-type
        fail("bad_type", "bin family not modeled")
      case 0xca => fail("bad_type", "float32 not modeled (writer emits f64)")
      case 0xcb => JFloat(java.lang.Double.longBitsToDouble(r.be64()))
      case 0xcc => JInt(BigInt(r.u8()))
      case 0xcd => JInt(BigInt(r.be16()))
      case 0xce => JInt(BigInt(r.be32() & 0xffffffffL))
      case 0xcf =>
        val v = r.be64()
        if (v < 0) fail("bad_type", "uint64 past int64")
        JInt(BigInt(v))
      case 0xd0 => JInt(BigInt(r.u8().toByte.toInt))
      case 0xd1 => JInt(BigInt(r.be16().toShort.toInt))
      case 0xd2 => JInt(BigInt(r.be32()))
      case 0xd3 => JInt(BigInt(r.be64()))
      case 0xd9 => JStr(utf8Strict(r.bytes(capLen(r.u8().toLong, "str"))))
      case 0xda => JStr(utf8Strict(r.bytes(capLen(r.be16().toLong, "str"))))
      case 0xdb => JStr(utf8Strict(r.bytes(capLen(r.be32() & 0xffffffffL, "str"))))
      case 0xdc => arr(r, capLen(r.be16().toLong, "array"), depth)
      case 0xdd => arr(r, capLen((r.be32() & 0xffffffffL), "array"), depth)
      case 0xde => obj(r, capLen(r.be16().toLong, "map"), depth)
      case 0xdf => obj(r, capLen(r.be32() & 0xffffffffL, "map"), depth)
      case other => fail("bad_type", f"format byte 0x$other%02x")
    }
  }

  private def arr(r: Reader, n: Int, depth: Int): JArr = {
    val out = Vector.newBuilder[JVal]
    var i = 0
    while (i < n) { out += dec(r, depth + 1); i += 1 }
    JArr(out.result())
  }

  private def obj(r: Reader, n: Int, depth: Int): JObj = {
    val out = Vector.newBuilder[(String, JVal)]
    var i = 0
    while (i < n) {
      dec(r, depth + 1) match {
        case JStr(k) => out += ((k, dec(r, depth + 1)))
        case other   => fail("bad_type", s"non-string map key $other")
      }
      i += 1
    }
    JObj(out.result())
  }

  def decode(bytes: Array[Byte]): JVal = {
    val r = new Reader(bytes)
    val v = dec(r, 0)
    if (!r.done) fail("trailing_garbage", s"${bytes.length - r.pos} bytes after value")
    v
  }

  /** decode a back-to-back record shard */
  def decodeAll(bytes: Array[Byte]): Vector[JVal] = {
    val r = new Reader(bytes)
    val out = Vector.newBuilder[JVal]
    while (!r.done) out += dec(r, 0)
    out.result()
  }

  def decodeAllSafe(bytes: Array[Byte]): Either[String, Vector[JVal]] =
    Refusal.attempt(decodeAll(bytes), "bad_type")
}
