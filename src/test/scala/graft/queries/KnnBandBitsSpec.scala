package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The kNN band-key width grows with log₂N and stops at the 32-bit SRP
  * signature: two bands never pass 16 bits each.
  */
class KnnBandBitsSpec extends AnyFunSuite {

  test("width follows max(8, ceil(log2 N) - 4) below the cap") {
    assert(ScaleQueries.knnBandBits(600L, 2) == 8)
    assert(ScaleQueries.knnBandBits(200000L, 2) == 14)
    assert(ScaleQueries.knnBandBits(1L << 20, 2) == 16)
  }

  test("width is capped at 32 / nBands") {
    assert(ScaleQueries.knnBandBits((1L << 20) + 1, 2) == 16)
    assert(ScaleQueries.knnBandBits(1L << 40, 2) == 16)
    assert(ScaleQueries.knnBandBits(1L << 40, 4) == 8)
    assert(ScaleQueries.knnBandBits(1L << 40, 1) == 32)
  }
}
