package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import graft.core.Refusal

/** tf.Example protobuf codec — the record format that actually lives
  * inside TFRecord training shards (tfr01 framed JSON to pin the
  * container; THIS is the payload real pipelines write): protobuf wire
  * format for `Example { Features { map<string, Feature> } }` with
  * `BytesList` / packed `FloatList` / packed `Int64List` features.
  * Written against the PUBLIC protobuf encoding spec (varints, tags =
  * field<<3|wire, length-delimited nesting, packed repeated scalars)
  * and the public feature.proto schema; fixtures from an independent
  * python transcription (tools/make_tfexample_fixture.py) including the
  * UNPACKED repeated variant old writers emit and unknown fields a
  * reader must skip (the protobuf forward-compat contract).
  *
  * The writer emits the canonical form (packed numeric lists, minimal
  * varints, map entries in insertion order) so round trips are
  * byte-stable. Typed refusals: `truncated` (any read past the buffer),
  * `bad_varint` (>10 bytes), `bad_wire` (unknown/disallowed wire type
  * or a length that overflows), `too_large` (declared lengths past
  * [[graft.core.Budget.maxInflatedBytes]] before allocation).
  */
object TfExample {

  sealed trait FeatureVal
  final case class BytesFeature(vs: Vector[Array[Byte]]) extends FeatureVal
  final case class FloatFeature(vs: Vector[Float]) extends FeatureVal
  final case class Int64Feature(vs: Vector[Long]) extends FeatureVal

  /** one Example: ordered feature map */
  type Example = Vector[(String, FeatureVal)]

  private def fail(kind: String, msg: String): Nothing =
    throw new Refusal(kind, s"$kind: $msg")

  // ------------------------------------------------------------- write --

  private final class Out {
    val b = new java.io.ByteArrayOutputStream(256)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { b.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      b.write(v.toInt)
    }
    def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def lenDelim(field: Int, bytes: Array[Byte]): Unit = {
      tag(field, 2); varint(bytes.length.toLong); b.write(bytes, 0, bytes.length)
    }
    def bytes: Array[Byte] = b.toByteArray
  }

  private def encodeFeature(f: FeatureVal): Array[Byte] = {
    val inner = new Out
    f match {
      case BytesFeature(vs) => vs.foreach(v => inner.lenDelim(1, v))
      case FloatFeature(vs) =>
        val data = new Array[Byte](vs.length * 4)
        vs.zipWithIndex.foreach { case (v, i) =>
          val x = java.lang.Float.floatToIntBits(v)
          data(i * 4) = (x & 0xff).toByte; data(i * 4 + 1) = ((x >> 8) & 0xff).toByte
          data(i * 4 + 2) = ((x >> 16) & 0xff).toByte; data(i * 4 + 3) = ((x >> 24) & 0xff).toByte
        }
        inner.lenDelim(1, data)
      case Int64Feature(vs) =>
        val packed = new Out
        vs.foreach(packed.varint)
        inner.lenDelim(1, packed.bytes)
    }
    val feat = new Out
    val fieldNum = f match {
      case _: BytesFeature => 1
      case _: FloatFeature => 2
      case _: Int64Feature => 3
    }
    feat.lenDelim(fieldNum, inner.bytes)
    feat.bytes
  }

  def encode(ex: Example): Array[Byte] = {
    val features = new Out
    ex.foreach { case (k, f) =>
      val entry = new Out
      entry.lenDelim(1, k.getBytes(UTF_8))
      entry.lenDelim(2, encodeFeature(f))
      features.lenDelim(1, entry.bytes)
    }
    val example = new Out
    example.lenDelim(1, features.bytes)
    example.bytes
  }

  // -------------------------------------------------------------- read --

  private final class In(b: Array[Byte], var pos: Int, val end: Int) {
    def done: Boolean = pos >= end
    def u8(): Int = {
      if (pos >= end) fail("truncated", s"byte at $pos of $end")
      val v = b(pos) & 0xff; pos += 1; v
    }
    def varint(): Long = {
      var v = 0L
      var shift = 0
      var n = 0
      while (n < 10) {
        val x = u8()
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
        n += 1
      }
      fail("bad_varint", s"varint past 10 bytes at $pos")
    }
    def slice(len: Long): In = {
      if (len < 0 || len > graft.core.Budget.maxInflatedBytes)
        fail("too_large", s"declared length $len")
      if (pos + len > end) fail("truncated", s"length $len at $pos of $end")
      val s = new In(b, pos, pos + len.toInt)
      pos += len.toInt
      s
    }
    def raw(len: Long): Array[Byte] = {
      val s = slice(len)
      java.util.Arrays.copyOfRange(b, s.pos, s.end)
    }
    def f32le(): Float = {
      if (pos + 4 > end) fail("truncated", s"f32 at $pos")
      val x = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8) |
        ((b(pos + 2) & 0xff) << 16) | ((b(pos + 3) & 0xff) << 24)
      pos += 4
      java.lang.Float.intBitsToFloat(x)
    }
    /** skip one field of the given wire type (forward compat) */
    def skip(wire: Int): Unit = wire match {
      case 0 => varint(); ()
      case 1 => if (pos + 8 > end) fail("truncated", "i64 skip") else pos += 8
      case 2 => slice(varint()); ()
      case 5 => if (pos + 4 > end) fail("truncated", "i32 skip") else pos += 4
      case w => fail("bad_wire", s"wire type $w")
    }
  }

  private def decodeList(in: In, kind: Int): FeatureVal = kind match {
    case 1 =>
      val out = Vector.newBuilder[Array[Byte]]
      while (!in.done) {
        val t = in.varint()
        if ((t >> 3) == 1 && (t & 7) == 2) out += in.raw(in.varint())
        else in.skip((t & 7).toInt)
      }
      BytesFeature(out.result())
    case 2 =>
      val out = Vector.newBuilder[Float]
      while (!in.done) {
        val t = in.varint()
        if ((t >> 3) == 1 && (t & 7) == 2) { // packed
          val s = in.slice(in.varint())
          if ((s.end - s.pos) % 4 != 0) fail("bad_wire", "packed f32 length")
          while (!s.done) out += s.f32le()
        } else if ((t >> 3) == 1 && (t & 7) == 5) out += in.f32le() // unpacked
        else in.skip((t & 7).toInt)
      }
      FloatFeature(out.result())
    case 3 =>
      val out = Vector.newBuilder[Long]
      while (!in.done) {
        val t = in.varint()
        if ((t >> 3) == 1 && (t & 7) == 2) { // packed
          val s = in.slice(in.varint())
          while (!s.done) out += s.varint()
        } else if ((t >> 3) == 1 && (t & 7) == 0) out += in.varint() // unpacked
        else in.skip((t & 7).toInt)
      }
      Int64Feature(out.result())
    case k => fail("bad_wire", s"feature kind $k")
  }

  private def decodeFeature(in: In): FeatureVal = {
    var result: FeatureVal = null
    while (!in.done) {
      val t = in.varint()
      val field = (t >> 3).toInt
      val wire = (t & 7).toInt
      if (field >= 1 && field <= 3 && wire == 2)
        result = decodeList(in.slice(in.varint()), field)
      else in.skip(wire)
    }
    if (result == null) fail("bad_wire", "feature without a list")
    result
  }

  def decode(bytes: Array[Byte]): Example = {
    val root = new In(bytes, 0, bytes.length)
    val out = Vector.newBuilder[(String, FeatureVal)]
    while (!root.done) {
      val t = root.varint()
      if ((t >> 3) == 1 && (t & 7) == 2) { // Example.features
        val features = root.slice(root.varint())
        while (!features.done) {
          val ft = features.varint()
          if ((ft >> 3) == 1 && (ft & 7) == 2) { // map entry
            val entry = features.slice(features.varint())
            var key: String = null
            var value: FeatureVal = null
            while (!entry.done) {
              val et = entry.varint()
              ((et >> 3).toInt, (et & 7).toInt) match {
                case (1, 2) => key = new String(entry.raw(entry.varint()), UTF_8)
                case (2, 2) => value = decodeFeature(entry.slice(entry.varint()))
                case (_, w) => entry.skip(w)
              }
            }
            if (key == null || value == null) fail("bad_wire", "incomplete map entry")
            out += ((key, value))
          } else features.skip((ft & 7).toInt)
        }
      } else root.skip((t & 7).toInt)
    }
    out.result()
  }

  def decodeSafe(bytes: Array[Byte]): Either[String, Example] =
    Refusal.attempt(decode(bytes), "bad_wire")
}
