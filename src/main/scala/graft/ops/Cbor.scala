package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import graft.core.Refusal
import graft.etl.{JArr, JBool, JFloat, JInt, JNull, JObj, JStr, JVal}

/** CBOR codec (RFC 8949) over the repo's JSON value model
  * ([[graft.etl.JVal]]) — the binary record format the COSE/WebAuthn/IoT
  * world ships and the remaining record-shard container alongside
  * msgpack/Avro/tf.Example. Same discipline as [[Msgpack]]:
  *
  *  - writer emits the PREFERRED SERIALIZATION (RFC 8949 §4.1): shortest
  *    argument encoding for every integer and length, definite lengths
  *    only, floats as binary64 (the only float width [[JVal]] models) —
  *    same input → same bytes, the reproducible-shard requirement.
  *  - reader is strict and budget-capped: declared string/array/map
  *    lengths are checked against [[graft.core.Budget.maxInflatedBytes]]
  *    BEFORE allocation; nesting is capped; tags (major 6) are skipped
  *    transparently per RFC §5.4 ("a decoder MAY ignore tags");
  *    indefinite lengths, byte strings, half/single floats, and simple
  *    values outside false/true/null refuse `bad_type` rather than
  *    silently re-typing (the msgpack bin/float32 convention).
  *  - typed refusals: `truncated` / `bad_type` / `too_large`, a subset
  *    of the msgpack vocabulary so the shard scans share one contract
  *    (trailing bytes are further records — a CBOR sequence, RFC 8742 —
  *    so the trailing_garbage class cannot arise).
  *
  * Pinned against fixtures from an independent python spec transcription
  * (tools/make_cbor_fixture.py — the sibling-encoder pattern msgpack/avro
  * used; cbor2 is not in this container).
  */
object Cbor {

  private def fail(kind: String, msg: String): Nothing =
    throw new Refusal(kind, msg)

  // ------------------------------------------------------------- write --

  def encode(v: JVal): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    enc(out, v)
    out.toByteArray
  }

  /** Records back to back — the shard layout (a "CBOR sequence", RFC 8742). */
  def encodeAll(vs: Seq[JVal]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(256)
    vs.foreach(enc(out, _))
    out.toByteArray
  }

  /** major-type head with the shortest-form argument (preferred serialization). */
  private def head(out: java.io.ByteArrayOutputStream, major: Int, arg: Long): Unit = {
    val m = major << 5
    if (arg < 24) out.write(m | arg.toInt)
    else if (arg < 0x100) { out.write(m | 24); out.write(arg.toInt) }
    else if (arg < 0x10000) { out.write(m | 25); out.write((arg >> 8).toInt); out.write(arg.toInt & 0xff) }
    else if (arg < 0x100000000L) {
      out.write(m | 26)
      var i = 24
      while (i >= 0) { out.write(((arg >> i) & 0xff).toInt); i -= 8 }
    } else {
      out.write(m | 27)
      var i = 56
      while (i >= 0) { out.write(((arg >> i) & 0xff).toInt); i -= 8 }
    }
  }

  private def enc(out: java.io.ByteArrayOutputStream, v: JVal): Unit = v match {
    case JNull => out.write(0xf6)
    case JBool(false) => out.write(0xf4)
    case JBool(true) => out.write(0xf5)
    case JInt(i) =>
      if (i >= 0) {
        if (i > Long.MaxValue) fail("bad_type", s"int past int64: $i")
        head(out, 0, i.toLong)
      } else {
        val n = -(i + 1)
        if (n > Long.MaxValue) fail("bad_type", s"int past int64: $i")
        head(out, 1, n.toLong)
      }
    case JFloat(d) =>
      out.write(0xfb)
      val bits = java.lang.Double.doubleToLongBits(d)
      var i = 56
      while (i >= 0) { out.write(((bits >> i) & 0xff).toInt); i -= 8 }
    case JStr(s) =>
      val b = s.getBytes(UTF_8)
      head(out, 3, b.length.toLong)
      out.write(b, 0, b.length)
    case JArr(items) =>
      head(out, 4, items.size.toLong)
      items.foreach(enc(out, _))
    case JObj(fields) =>
      head(out, 5, fields.size.toLong)
      fields.foreach { case (k, fv) =>
        val kb = k.getBytes(UTF_8)
        head(out, 3, kb.length.toLong)
        out.write(kb, 0, kb.length)
        enc(out, fv)
      }
  }

  // -------------------------------------------------------------- read --

  private final class Reader(b: Array[Byte]) {
    var pos = 0
    // bound math in Long: near the 2 GiB array limit `pos + n` wraps an
    // Int and a lying length would slip past into copyOfRange
    private def need(n: Int): Unit =
      if (n < 0 || pos.toLong + n > b.length)
        fail("truncated", s"need $n at $pos of ${b.length}")
    def u8(): Int = { need(1); val v = b(pos) & 0xff; pos += 1; v }
    def beN(n: Int): Long = {
      need(n)
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 8) | (b(pos + i) & 0xffL); i += 1 }
      pos += n
      v
    }
    def bytes(n: Int): Array[Byte] = {
      need(n)
      val a = java.util.Arrays.copyOfRange(b, pos, pos + n)
      pos += n
      a
    }
    def done: Boolean = pos >= b.length
  }

  private def capLen(n: Long, what: String): Int = {
    // the Int.MaxValue bound stands on its own: with a raised budget a
    // 2^32 declaration must refuse, not truncate to 0 via toInt
    if (n < 0 || n > graft.core.Budget.maxInflatedBytes || n > Int.MaxValue - 8)
      fail("too_large", s"declared $what length $n")
    n.toInt
  }

  /** Strict UTF-8 (RFC 8949 well-formedness): malformed bytes refuse
    * typed instead of silently becoming U+FFFD.
    */
  private def utf8Strict(bytes: Array[Byte]): String =
    try {
      val dec = UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    } catch {
      case _: java.nio.charset.CharacterCodingException =>
        fail("bad_type", "text string is not well-formed UTF-8")
    }

  /** head argument for additional-info `info`; refuses indefinite (31). */
  private def arg(r: Reader, info: Int, what: String): Long = info match {
    case n if n < 24 => n.toLong
    case 24 => r.u8().toLong
    case 25 => r.beN(2)
    case 26 => r.beN(4)
    case 27 =>
      val v = r.beN(8)
      if (v < 0) fail("bad_type", s"$what argument past int64")
      v
    case 31 => fail("bad_type", s"indefinite-length $what")
    case other => fail("bad_type", s"reserved additional info $other")
  }

  private def dec(r: Reader, depth: Int): JVal = {
    if (depth > 64) fail("bad_type", "nesting past 64")
    val t = r.u8()
    val major = t >>> 5
    val info = t & 0x1f
    major match {
      case 0 => JInt(BigInt(arg(r, info, "uint")))
      case 1 => JInt(BigInt(-1L) - arg(r, info, "negint"))
      case 2 => fail("bad_type", "byte string not modeled")
      case 3 =>
        val n = capLen(arg(r, info, "text"), "text")
        JStr(utf8Strict(r.bytes(n)))
      case 4 =>
        val n = capLen(arg(r, info, "array"), "array")
        val out = Vector.newBuilder[JVal]
        var i = 0
        while (i < n) { out += dec(r, depth + 1); i += 1 }
        JArr(out.result())
      case 5 =>
        val n = capLen(arg(r, info, "map"), "map")
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
      case 6 =>
        // tag: skip the tag number, decode the tagged content (§5.4)
        arg(r, info, "tag")
        dec(r, depth + 1)
      case _ => // major 7: simple / float
        info match {
          case 20 => JBool(false)
          case 21 => JBool(true)
          case 22 => JNull
          case 23 => fail("bad_type", "undefined not modeled")
          case 25 | 26 => fail("bad_type", "half/single float not modeled (writer emits binary64)")
          case 27 => JFloat(java.lang.Double.longBitsToDouble(r.beN(8)))
          case 31 => fail("bad_type", "unpaired break")
          case other => fail("bad_type", s"simple value $other not modeled")
        }
    }
  }

  def decodeAll(bytes: Array[Byte]): Seq[JVal] = {
    val r = new Reader(bytes)
    val out = Vector.newBuilder[JVal]
    while (!r.done) out += dec(r, 0)
    out.result()
  }

  def decodeAllSafe(bytes: Array[Byte]): Either[String, Seq[JVal]] =
    Refusal.attempt(decodeAll(bytes))
}
