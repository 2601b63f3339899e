package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The strict → safe combinator contract every `*Safe` decoder twin is
  * built from: a refusal's own kind always wins, the catch-all form maps
  * any other `Exception` to its fallback, the refusal-only form lets it
  * propagate, and an `Error` is never swallowed by either form.
  */
class RefusalSpec extends AnyFunSuite {

  private def refuse(kind: String): Int = throw new Refusal(kind, s"detail for $kind")
  private def bug(): Int = throw new IndexOutOfBoundsException("index 9 of 3")
  private def overflow(): Int = throw new StackOverflowError()

  test("a decode that succeeds is Right under both forms") {
    assert(Refusal.attempt(42) == Right(42))
    assert(Refusal.attempt(42, "bad_frame") == Right(42))
  }

  test("a refusal's own kind wins over the fallback") {
    assert(Refusal.attempt(refuse("truncated")) == Left("truncated"))
    assert(Refusal.attempt(refuse("truncated"), "bad_frame") == Left("truncated"))
  }

  test("any other exception maps to the fallback, or propagates without one") {
    assert(Refusal.attempt(bug(), "bad_frame") == Left("bad_frame"))
    intercept[IndexOutOfBoundsException](Refusal.attempt(bug()))
  }

  test("an Error propagates under both forms") {
    intercept[StackOverflowError](Refusal.attempt(overflow()))
    intercept[StackOverflowError](Refusal.attempt(overflow(), "bad_frame"))
  }

  test("the message is kept as given, and a refusal is no IllegalArgumentException") {
    val e = intercept[Refusal](refuse("bad_magic"))
    assert(e.kind == "bad_magic")
    assert(e.getMessage == "detail for bad_magic")
    assert(e.isInstanceOf[RuntimeException])
    assert(!e.isInstanceOf[IllegalArgumentException])
  }
}
