package graft.core

import java.io.{ByteArrayInputStream, IOException, InputStream}

import org.scalatest.funsuite.AnyFunSuite

/** The one capped drain behind the zstd, bzip2 and LZMA readers: the
  * budget boundary, the corrupt-input mapping, and a bug staying a bug.
  */
class BudgetDrainSpec extends AnyFunSuite {

  private def kindOf(body: => Any): String =
    intercept[Refusal](body).kind

  private val cap = 20000L
  private def bytes(n: Int): Array[Byte] = Array.tabulate[Byte](n)(i => (i * 7).toByte)

  test("exactly cap bytes pass; cap + 1 refuses too_large") {
    val exact = bytes(cap.toInt)
    val got = Budget.drain(new ByteArrayInputStream(exact), "test", cap)
    assert(java.util.Arrays.equals(got, exact))
    assert(kindOf(Budget.drain(
      new ByteArrayInputStream(bytes(cap.toInt + 1)), "test", cap)) == "too_large")
  }

  /** yields `good` bytes, then throws `fail` */
  private def failingAfter(good: Int, fail: => Throwable): InputStream = new InputStream {
    private var left = good
    override def read(): Int =
      if (left > 0) { left -= 1; 42 } else throw fail
  }

  test("a mid-stream IOException refuses bad_frame") {
    assert(kindOf(Budget.drain(
      failingAfter(100, new IOException("corrupt block")), "test", cap)) == "bad_frame")
  }

  test("an IOException from the stream's constructor refuses bad_frame") {
    assert(kindOf(Budget.drain(
      throw new IOException("bad header"), "test", cap)) == "bad_frame")
  }

  test("a RuntimeException propagates instead of becoming a kind") {
    val e = intercept[IllegalStateException](Budget.drain(
      failingAfter(100, new IllegalStateException("decoder bug")), "test", cap))
    assert(e.getMessage == "decoder bug")
  }
}
