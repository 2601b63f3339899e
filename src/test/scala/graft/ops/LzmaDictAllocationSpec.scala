package graft.ops

import java.lang.management.ManagementFactory

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Refusal

/** xz-java allocates an LZMA dictionary whole before it decodes a byte,
  * so the dictionary a reader asks for must be bounded by what the input
  * can produce, not by sizes a header declares. Each forged stream here
  * declares the whole inflate budget in a few hundred bytes and must
  * refuse without the reader allocating anything near it.
  */
class LzmaDictAllocationSpec extends AnyFunSuite {

  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes this thread allocates while `body` refuses, and the kind. */
  private def allocatedRefusing(body: => Any): (Long, String) = {
    val id = Thread.currentThread.getId
    val before = threads.getThreadAllocatedBytes(id)
    val kind = intercept[Refusal](body).kind
    (threads.getThreadAllocatedBytes(id) - before, kind)
  }

  private val Limit = 16L << 20

  private def crc32(b: Array[Byte]): Array[Byte] = {
    val c = new java.util.zip.CRC32
    c.update(b)
    le(c.getValue, 4)
  }
  private def le(v: Long, n: Int): Array[Byte] = Array.tabulate(n)(i => (v >>> (8 * i)).toByte)
  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** An xz stream whose one block uses the largest dictionary and whose
    * LZMA2 chunks each declare 2 MiB of output from one packed byte.
    */
  private def forgedXz(chunks: Int): Array[Byte] = {
    val flags = bytes(0x00, 0x01)
    val streamHeader = bytes(0xfd, '7', 'z', 'X', 'Z', 0x00) ++ flags ++ crc32(flags)
    val blockHead = bytes(0x02, 0x00, 0x21, 0x01, 40, 0x00, 0x00, 0x00)
    val first = bytes(0xff, 0xff, 0xff, 0x00, 0x00, 0x5d, 0x00)
    val rest = Array.fill(chunks - 1)(bytes(0x9f, 0xff, 0xff, 0x00, 0x00, 0x00)).flatten
    streamHeader ++ blockHead ++ crc32(blockHead) ++ first ++ rest ++ bytes(0x00)
  }

  /** A `.lzma` header (props 0x5d, dictionary field 0xFFFFFFFF) over a
    * 21-byte body.
    */
  private def forgedAlone(size: Long): Array[Byte] =
    bytes(0x5d) ++ le(0xffffffffL, 4) ++ le(size, 8) ++ Array.fill[Byte](21)(0)

  test("a forged xz block declaring the whole budget allocates no dictionary for it") {
    val budget = graft.core.Budget.maxInflatedBytes
    val xz = forgedXz((budget / (2L << 20)).toInt)
    allocatedRefusing(Xz.decompress(xz)) // load classes and warm up
    val (allocated, kind) = allocatedRefusing(Xz.decompress(xz))
    assert(kind == "bad_frame")
    assert(allocated < Limit, s"$allocated bytes allocated for a ${xz.length}-byte stream")
  }

  test("an unknown-size .lzma with a 4 GiB dictionary field allocates no dictionary for it") {
    val alone = forgedAlone(-1L)
    assert(alone.length == 34)
    allocatedRefusing(Xz.decompressAlone(alone))
    val (allocated, kind) = allocatedRefusing(Xz.decompressAlone(alone))
    assert(kind == "bad_frame")
    assert(allocated < Limit, s"$allocated bytes allocated for a 34-byte stream")
  }

  test("a .lzma declaring the whole budget allocates no dictionary for it") {
    val alone = forgedAlone(graft.core.Budget.maxInflatedBytes)
    allocatedRefusing(Xz.decompressAlone(alone))
    val (allocated, kind) = allocatedRefusing(Xz.decompressAlone(alone))
    assert(kind == "bad_frame")
    assert(allocated < Limit, s"$allocated bytes allocated for a 34-byte stream")
  }
}
