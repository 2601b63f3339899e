package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
import org.scalatest.funsuite.AnyFunSuite

/** `Bzip2.compress` encodes data that fits one block at the smallest level
  * that holds it and stamps the requested level: the stream must be the
  * one commons-compress writes at the requested level, byte for byte,
  * on both sides of every one-block boundary.
  */
class Bzip2LevelSpec extends AnyFunSuite {

  private def reference(p: Array[Byte], level: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new BZip2CompressorOutputStream(bos, level)
    out.write(p)
    out.close()
    bos.toByteArray
  }

  test("every level gives the library's own stream for that level") {
    val rnd = new scala.util.Random(3)
    // 79,983 is the largest input a level-1 block is sure to hold
    for (size <- Seq(0, 1, 5, 9999, 10000, 79983, 79984, 99981, 160000, 250000);
        shape <- 0 until 3) {
      val p = Array.tabulate[Byte](size) { i =>
        shape match {
          case 0 => rnd.nextInt(256).toByte
          case 1 => ('a' + rnd.nextInt(3)).toByte
          case _ => (i / 4).toByte // runs of four: RLE1 at its 5/4 worst
        }
      }
      for (level <- Seq(1, 2, 5, 9))
        assert(java.util.Arrays.equals(Bzip2.compress(p, level), reference(p, level)),
          s"size=$size shape=$shape level=$level")
    }
  }
}
