package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.US_ASCII

/** Locks on the hand-rolled snappy codec (graft.ops.Snappy): block and
  * framed round trips, differential pinning against BOTH reference
  * implementations on Spark's classpath (snappy-java = JNI libsnappy,
  * aircompressor = independent pure-JVM) in both directions, typed
  * refusals, the budget cap, and mutation totality.
  */
class SnappySpec extends AnyFunSuite {

  private val payload: Array[Byte] =
    (0 until 3000).map(i => s"""{"id":$i,"text":"snappy body $i rolls on and on"}""")
      .mkString("\n").getBytes(US_ASCII) // > 64 KiB → multiple chunks

  private val shapes: Seq[Array[Byte]] = Seq(
    payload,
    Array.emptyByteArray,
    Array.fill(200000)(7.toByte),                                  // long runs (overlapping copies)
    (0 until 150000).map(i => (i * 31 + (i >> 3)).toByte).toArray, // incompressible-ish
    "ab".* (50000).getBytes(US_ASCII),                             // period-2 copies
    "x".* (3).getBytes(US_ASCII))                                  // shorter than a match

  private def withBudget[A](bytes: Long)(f: => A): A = {
    val old = graft.core.Budget.maxInflatedBytes
    graft.core.Budget.maxInflatedBytes = bytes
    try f finally graft.core.Budget.maxInflatedBytes = old
  }

  test("framed round trip is exact and deterministic across payload shapes") {
    for (p <- shapes) {
      val a = Snappy.compress(p)
      assert(java.util.Arrays.equals(a, Snappy.compress(p)))
      assert(java.util.Arrays.equals(Snappy.decompress(a), p))
    }
    assert(Snappy.compress(payload).length < payload.length / 2)
  }

  test("snappy-java (libsnappy) decodes our blocks, and we theirs") {
    for (p <- shapes if p.nonEmpty) {
      val ours = Snappy.compressBlock(p, 0, p.length)
      assert(java.util.Arrays.equals(org.xerial.snappy.Snappy.uncompress(ours), p),
        "libsnappy rejects our block")
      val theirs = org.xerial.snappy.Snappy.compress(p)
      assert(java.util.Arrays.equals(Snappy.decompressBlock(theirs), p),
        "we reject a libsnappy block")
    }
  }

  test("aircompressor (pure-JVM) decodes our blocks, and we theirs") {
    for (p <- shapes if p.nonEmpty) {
      val ours = Snappy.compressBlock(p, 0, p.length)
      val dec = new io.airlift.compress.snappy.SnappyDecompressor
      val out = new Array[Byte](p.length)
      val n = dec.decompress(ours, 0, ours.length, out, 0, out.length)
      assert(n == p.length && java.util.Arrays.equals(out, p),
        "aircompressor rejects our block")
      val comp = new io.airlift.compress.snappy.SnappyCompressor
      val buf = new Array[Byte](comp.maxCompressedLength(p.length))
      val cn = comp.compress(p, 0, p.length, buf, 0, buf.length)
      val theirs = java.util.Arrays.copyOf(buf, cn)
      assert(java.util.Arrays.equals(Snappy.decompressBlock(theirs), p),
        "we reject an aircompressor block")
    }
  }

  test("framed interop with snappy-java's framed streams, both ways") {
    // ours -> snappy-java
    val sin = new org.xerial.snappy.SnappyFramedInputStream(
      new java.io.ByteArrayInputStream(Snappy.compress(payload)))
    val got = try sin.readAllBytes() finally sin.close()
    assert(java.util.Arrays.equals(got, payload), "snappy-java rejects our frame")
    // snappy-java -> ours
    val bos = new java.io.ByteArrayOutputStream()
    val sout = new org.xerial.snappy.SnappyFramedOutputStream(bos)
    sout.write(payload); sout.close()
    assert(java.util.Arrays.equals(Snappy.decompress(bos.toByteArray), payload),
      "we reject a snappy-java frame")
  }

  test("concatenated framed streams decode as one payload") {
    val a = "first ".* (5000).getBytes(US_ASCII)
    val b = "second ".* (5000).getBytes(US_ASCII)
    assert(java.util.Arrays.equals(
      Snappy.decompress(Snappy.compress(a) ++ Snappy.compress(b)), a ++ b))
  }

  test("magic flip refuses bad_magic; truncation / bit rot / reserved chunks typed") {
    val clean = Snappy.compress(payload)
    val flipped = clean.clone(); flipped(0) = (flipped(0) ^ 0x5a).toByte
    assert(Snappy.decompressSafe(flipped) == Left("bad_magic"))
    assert(Snappy.decompressSafe(java.util.Arrays.copyOf(clean, clean.length - 9))
      == Left("bad_frame"))
    val rot = clean.clone(); rot(clean.length / 2) = (rot(clean.length / 2) ^ 0x10).toByte
    assert(Snappy.decompressSafe(rot).isLeft)
    // reserved unskippable chunk type 0x02
    val junk = clean ++ Array[Byte](0x02, 1, 0, 0, 0)
    assert(Snappy.decompressSafe(junk) == Left("unsupported"))
    // padding + skippable chunks are fine
    val padded = clean ++ Array[Byte](0xfe.toByte, 2, 0, 0, 0, 0) ++
      Array[Byte](0x80.toByte, 1, 0, 0, 0)
    assert(Snappy.decompressSafe(padded).map(_.length) == Right(payload.length))
  }

  test("a declared-length bomb refuses too_large at the budget") {
    val zeros = new Array[Byte](4 * 1024 * 1024)
    val bomb = Snappy.compress(zeros)
    // snappy's copy tags cap amplification near 32:1 per chunk — far
    // tamer than zstd/DEFLATE, but still enough to warrant the cap
    assert(bomb.length < zeros.length / 15, s"bomb is ${bomb.length}")
    withBudget(1024 * 1024) {
      assert(Snappy.decompressSafe(bomb) == Left("too_large"))
    }
    assert(Snappy.decompressSafe(bomb).map(_.length) == Right(zeros.length))
  }

  test("every single-byte mutation of a valid frame is typed, never a throw") {
    val clean = Snappy.compress(
      (0 until 40).map(i => s"mutation line $i").mkString("\n").getBytes(US_ASCII))
    val kinds = Set("bad_magic", "bad_frame", "too_large", "unsupported")
    for (pos <- clean.indices; x <- Seq(0x01, 0x5a, 0x80, 0xff)) {
      val m = clean.clone(); m(pos) = (m(pos) ^ x).toByte
      Snappy.decompressSafe(m) match {
        case Left(k) => assert(kinds.contains(k), s"pos=$pos x=$x kind=$k")
        case Right(_) => ()
      }
    }
  }

  test("empty payload round-trips (bare stream identifier)") {
    assert(Snappy.decompress(Snappy.compress(Array.emptyByteArray)).isEmpty)
  }

  test("4-byte literal length 0xFFFFFFFF refuses instead of wrapping to empty") {
    // declared length 0, then tag 0xFC (literal, 4 extra length bytes)
    // FF FF FF FF: Int math wrapped this to len 0 and accepted the block
    // where reference snappy decoders refuse it
    val block = Array[Byte](0x00, 0xfc.toByte,
      0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte)
    val e = intercept[graft.core.Refusal](Snappy.decompressBlock(block))
    assert(e.kind == "bad_frame")
  }
}
