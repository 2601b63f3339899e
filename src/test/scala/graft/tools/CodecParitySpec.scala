package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class CodecParitySpec extends AnyFunSuite {

  test("ok and fail rows parse into the reference verdict") {
    assert(CodecParity.row("0\t12\t255\tok\tabc123", 1) == ((0, 12, 255, true, "abc123")))
    assert(CodecParity.row("3\t7\t1\tfail", 2) == ((3, 7, 1, false, "")))
  }

  test("any other verdict is refused with its line number") {
    val e = intercept[IllegalArgumentException](CodecParity.row("0\t1\t2\tmaybe", 17))
    assert(e.getMessage.contains("line 17"))
    assert(e.getMessage.contains("maybe"))
  }
}
