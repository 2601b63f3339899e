package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

import graft.etl.{JArr, JInt, JObj, JStr, JVal, Json}

/** Locks on the MessagePack codec (graft.ops.Msgpack): bit-exact decode
  * of fixtures from the independent python spec transcription
  * (tools/make_msgpack_fixture.py), BYTE-identical re-encode (both
  * sides emit the spec's canonical smallest forms), round trips across
  * the integer/str length boundaries, and the typed-refusal contract.
  */
class MsgpackSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    assert(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  private lazy val expected: Map[String, JVal] =
    Json.parse(new String(fixture("msgpack_expected.json"), UTF_8)) match {
      case JObj(fs) => fs.toMap
      case other    => fail(s"bad expected json: $other")
    }

  test("python-written record decodes to the exact JSON value model") {
    val got = Msgpack.decode(fixture("msgpack_basic.msgpack"))
    assert(got == expected("basic"))
  }

  test("our encoder is BYTE-identical to the python transcription") {
    assert(Msgpack.encode(expected("basic")).toSeq ==
      fixture("msgpack_basic.msgpack").toSeq)
    val stream = expected("stream") match { case JArr(items) => items; case o => fail(s"$o") }
    assert(Msgpack.encodeAll(stream).toSeq ==
      fixture("msgpack_stream.msgpack").toSeq)
  }

  test("back-to-back record shard decodes record-wise") {
    val recs = Msgpack.decodeAll(fixture("msgpack_stream.msgpack"))
    val exp = expected("stream") match { case JArr(items) => items.toVector; case o => fail(s"$o") }
    assert(recs == exp)
    assert(recs(0).asInstanceOf[JObj].fields.toMap.apply("id") == JInt(1))
  }

  test("round trip across every length-form boundary") {
    val v = JObj(Vector(
      "i" -> JArr(Vector(0L, 127L, 128L, 255L, 256L, 65535L, 65536L,
        4294967295L, 4294967296L, Long.MaxValue, -1L, -32L, -33L, -128L,
        -129L, -32768L, -32769L, Int.MinValue.toLong, Int.MinValue - 1L,
        Long.MinValue).map(x => JInt(BigInt(x)))),
      "s31" -> JStr("x" * 31), "s32" -> JStr("x" * 32),
      "s255" -> JStr("x" * 255), "s256" -> JStr("x" * 256),
      "s65535" -> JStr("y" * 65535), "s65536" -> JStr("y" * 65536),
      "a15" -> JArr(Vector.fill(15)(JInt(1))),
      "a16" -> JArr(Vector.fill(16)(JInt(1)))))
    assert(Msgpack.decode(Msgpack.encode(v)) == v)
  }

  test("typed refusals: truncation, 0xc1, trailing garbage, bomb cap") {
    val good = Msgpack.encode(expected("basic"))
    assert(Msgpack.decodeAllSafe(java.util.Arrays.copyOf(good, good.length - 3)) ==
      Left("truncated"))
    assert(Msgpack.decodeAllSafe(Array(0xc1.toByte)) == Left("bad_type"))
    // str32 declaring a length past the budget refuses BEFORE allocating
    val bomb = Array[Byte](0xdb.toByte, 0x7f, -1, -1, -1)
    val old = graft.core.Budget.maxInflatedBytes
    graft.core.Budget.maxInflatedBytes = 1 << 20
    try assert(Msgpack.decodeAllSafe(bomb) == Left("too_large"))
    finally graft.core.Budget.maxInflatedBytes = old
    // decode (single-value) refuses trailing bytes
    val t = try { Msgpack.decode(good ++ Array[Byte](0x01)); "no" }
    catch { case e: graft.core.Refusal => e.kind }
    assert(t == "trailing_garbage")
    // nesting bomb: 100 nested fixarray heads
    val nest = Array.fill[Byte](100)(0x91.toByte) ++ Array[Byte](0x01)
    assert(Msgpack.decodeAllSafe(nest) == Left("bad_type"))
  }
}
