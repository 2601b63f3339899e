package graft.ops

/** VP8 KEYFRAME decoder (lossy WebP payloads), written from RFC 6386 —
  * boolean arithmetic decoder (§7), keyframe headers (§9: segmentation,
  * loop-filter params, token partitions, quantizers, per-frame coefficient
  * probability updates), intra prediction (§12: 16x16 DC/V/H/TM, all ten
  * 4x4 B_PRED submodes with the above-right rule, chroma 8x8), coefficient
  * tokens with bands/contexts/categories (§13), integer inverse DCT/WHT
  * (§14), and the loop filter (§15, normal AND simple profiles).
  * Non-keyframe (inter) frames need reference buffers a single-image
  * decode cannot have and refuse with a typed error ([[Webp.decodeSafe]]
  * downgrades that to an error row).
  *
  * Constant tables load from `vp8_tables.txt`, generated by
  * tools/vp8_tables.py — the SINGLE source shared with the python fixture
  * encoder (tools/vp8_codec.py), so the two sides cannot drift; see that
  * file's per-table provenance notes (structural tables transcribed from
  * the RFC; the large probability tables partially transcribed with a
  * disclosed deterministic fill — the offline build cannot diff a
  * from-memory transcription against the spec, and every gate here is a
  * round trip through the shared file).
  *
  * Fixture parity: tools/make_vp8_fixture.py encodes eight constructions
  * (all intra modes, AC coefficients, segmentation, 1/4 token partitions,
  * simple+normal loop filters, odd sizes) and stores the encoder-side
  * reconstruction; Vp8Spec pins this decoder byte-for-byte against those
  * planes. The mm13 query runs the DC-lossless construction (flat 4x4
  * tiles, qindex 0 — quantization error is exactly zero, the mm04/mm10
  * pattern) so DuckDB recomputes the decoded pixel sum from the text.
  */
object Vp8 {

  final case class Yuv(width: Int, height: Int,
      y: Array[Byte], u: Array[Byte], v: Array[Byte]) {
    def uvStride: Int = (width + 1) / 2
  }

  // ------------------------------------------------------------- tables

  private val tables: Map[String, Array[Int]] = {
    val in = getClass.getResourceAsStream("/vp8_tables.txt")
    require(in != null, "vp8_tables.txt resource missing")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.isEmpty).map { l =>
      val i = l.indexOf(':')
      l.substring(0, i) -> l.substring(i + 1).trim.split(" ").map(_.toInt)
    }.toMap
    finally src.close()
  }

  private val DcQ = tables("dc_qlookup")
  private val AcQ = tables("ac_qlookup")
  private val Zigzag = tables("zigzag")
  private val Bands = tables("coef_bands")
  private val KfYmodeTree = tables("kf_ymode_tree")
  private val KfYmodeProb = tables("kf_ymode_prob")
  private val UvModeTree = tables("uv_mode_tree")
  private val KfUvModeProb = tables("kf_uv_mode_prob")
  private val BmodeTree = tables("bmode_tree")
  private val CoefTree = tables("coef_tree")
  private val CatProbs: Array[Array[Int]] =
    Array(Array.empty[Int], tables("cat1"), tables("cat2"), tables("cat3"),
      tables("cat4"), tables("cat5"), tables("cat6"))
  private val CatBase = Array(0, 5, 7, 11, 19, 35, 67)
  private val SegTree = tables("mb_segment_tree")
  private val KfBmode = tables("kf_bmode_probs") // [above*10+left]*9 flat
  private val DefaultCoef = tables("default_coef_probs") // [p][b][c][i] flat
  private val CoefUpdate = tables("coef_update_probs")

  // mode ids
  private final val DC_PRED = 0
  private final val B_PRED = 4
  private val BmodeFromY = Array(0, 2, 3, 1) // DC→B_DC, V→B_VE, H→B_HE, TM→B_TM

  @inline private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
  @inline private def clamp(v: Int, lo: Int, hi: Int): Int =
    if (v < lo) lo else if (v > hi) hi else v

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException("malformed VP8: " + msg)

  // --------------------------------------------------------- bool decoder

  private final class BoolDec(data: Array[Byte], off: Int, end: Int) {
    private var pos = off + 2
    private var value: Long =
      if (off + 1 < end) (((data(off) & 0xff) << 8) | (data(off + 1) & 0xff)).toLong
      else if (off < end) ((data(off) & 0xff) << 8).toLong
      else 0L
    private var range = 255
    private var bitCount = 0

    def get(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val big = split.toLong << 8
      var ret = 0
      if (value >= big) { ret = 1; range -= split; value -= big }
      else range = split
      while (range < 128) {
        value <<= 1
        range <<= 1
        bitCount += 1
        if (bitCount == 8) {
          bitCount = 0
          if (pos < end) value |= (data(pos) & 0xff)
          pos += 1
        }
      }
      ret
    }

    def literal(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | get(128); i += 1 }
      v
    }

    def signedLiteral(n: Int): Int = {
      val v = literal(n)
      if (get(128) == 1) -v else v
    }

    def flaggedSigned(n: Int): Int = if (get(128) == 1) signedLiteral(n) else 0

    def tree(t: Array[Int], probs: Array[Int], probOff: Int = 0,
        start: Int = 0): Int = {
      var i = start
      while (true) {
        val b = get(probs(probOff + (i >> 1)))
        val x = t(i + b)
        if (x <= 0) return -x
        i = x
      }
      0
    }
  }

  // --------------------------------------------------------- transforms

  private def idct4x4(c: Array[Int], out: Array[Int]): Unit = {
    val K1 = 20091; val K2 = 35468
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = c(i) + c(i + 8)
      val b1 = c(i) - c(i + 8)
      var t1 = (c(i + 4) * K2) >> 16
      var t2 = c(i + 12) + ((c(i + 12) * K1) >> 16)
      val cc = t1 - t2
      t1 = c(i + 4) + ((c(i + 4) * K1) >> 16)
      t2 = (c(i + 12) * K2) >> 16
      val d1 = t1 + t2
      tmp(i) = a1 + d1; tmp(i + 12) = a1 - d1
      tmp(i + 4) = b1 + cc; tmp(i + 8) = b1 - cc
      i += 1
    }
    i = 0
    while (i < 4) {
      val r = i * 4
      val a1 = tmp(r) + tmp(r + 2)
      val b1 = tmp(r) - tmp(r + 2)
      var t1 = (tmp(r + 1) * K2) >> 16
      var t2 = tmp(r + 3) + ((tmp(r + 3) * K1) >> 16)
      val cc = t1 - t2
      t1 = tmp(r + 1) + ((tmp(r + 1) * K1) >> 16)
      t2 = (tmp(r + 3) * K2) >> 16
      val d1 = t1 + t2
      out(r) = (a1 + d1 + 4) >> 3; out(r + 3) = (a1 - d1 + 4) >> 3
      out(r + 1) = (b1 + cc + 4) >> 3; out(r + 2) = (b1 - cc + 4) >> 3
      i += 1
    }
  }

  private def iwht4x4(c: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = c(i) + c(i + 12)
      val b1 = c(i + 4) + c(i + 8)
      val c1 = c(i + 4) - c(i + 8)
      val d1 = c(i) - c(i + 12)
      tmp(i) = a1 + b1; tmp(i + 4) = c1 + d1
      tmp(i + 8) = a1 - b1; tmp(i + 12) = d1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val r = i * 4
      val a1 = tmp(r) + tmp(r + 3)
      val b1 = tmp(r + 1) + tmp(r + 2)
      val c1 = tmp(r + 1) - tmp(r + 2)
      val d1 = tmp(r) - tmp(r + 3)
      out(r) = (a1 + b1 + 3) >> 3; out(r + 1) = (c1 + d1 + 3) >> 3
      out(r + 2) = (a1 - b1 + 3) >> 3; out(r + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
  }

  // --------------------------------------------------------- planes

  private final class Plane(val w: Int, val h: Int) {
    val d = new Array[Byte](w * h)
    @inline def get(x: Int, y: Int): Int = d(y * w + x) & 0xff
    @inline def set(x: Int, y: Int, v: Int): Unit = d(y * w + x) = v.toByte
  }

  // --------------------------------------------------------- prediction

  @inline private def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2
  @inline private def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1

  /** edge pixel with VP8's notional borders: above row 127, left col 129 */
  @inline private def px(p: Plane, x: Int, y: Int): Int =
    if (y < 0) 127 else if (x < 0) 129 else p.get(x, y)

  private def predictBlock(p: Plane, mode: Int, x0: Int, y0: Int, size: Int,
      up: Boolean, left: Boolean, pred: Array[Int]): Unit = {
    // 16x16 / 8x8 whole-block modes (DC availability variants, V, H, TM)
    val corner = if (y0 == 0) 127 else if (x0 == 0) 129 else p.get(x0 - 1, y0 - 1)
    mode match {
      case 0 => // DC
        var v = 0
        if (up && left) {
          var s = 0
          var i = 0
          while (i < size) { s += p.get(x0 + i, y0 - 1) + p.get(x0 - 1, y0 + i); i += 1 }
          v = (s + size) >> (if (size == 16) 5 else 4)
        } else if (up) {
          var s = 0; var i = 0
          while (i < size) { s += p.get(x0 + i, y0 - 1); i += 1 }
          v = (s + size / 2) >> (if (size == 16) 4 else 3)
        } else if (left) {
          var s = 0; var i = 0
          while (i < size) { s += p.get(x0 - 1, y0 + i); i += 1 }
          v = (s + size / 2) >> (if (size == 16) 4 else 3)
        } else v = 128
        java.util.Arrays.fill(pred, 0, size * size, v)
      case 1 => // V
        var r = 0
        while (r < size) {
          var c = 0
          while (c < size) { pred(r * size + c) = px(p, x0 + c, y0 - 1); c += 1 }
          r += 1
        }
      case 2 => // H
        var r = 0
        while (r < size) {
          val lv = px(p, x0 - 1, y0 + r)
          var c = 0
          while (c < size) { pred(r * size + c) = lv; c += 1 }
          r += 1
        }
      case 3 => // TM
        var r = 0
        while (r < size) {
          val lv = px(p, x0 - 1, y0 + r)
          var c = 0
          while (c < size) {
            pred(r * size + c) = clip255(lv + px(p, x0 + c, y0 - 1) - corner)
            c += 1
          }
          r += 1
        }
      case m => fail(s"bad whole-block mode $m")
    }
  }

  /** All ten 4x4 B_PRED submodes. A(4), L(4), P, AR(4) per [[sbEdges]]. */
  private def predict4x4(mode: Int, A: Array[Int], L: Array[Int], P: Int,
      AR: Array[Int], pred: Array[Int]): Unit = {
    mode match {
      case 0 => // B_DC
        val v = (A(0) + A(1) + A(2) + A(3) + L(0) + L(1) + L(2) + L(3) + 4) >> 3
        java.util.Arrays.fill(pred, 0, 16, v)
      case 1 => // B_TM
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) { pred(r * 4 + c) = clip255(L(r) + A(c) - P); c += 1 }
          r += 1
        }
      case 2 => // B_VE
        val row = Array(avg3(P, A(0), A(1)), avg3(A(0), A(1), A(2)),
          avg3(A(1), A(2), A(3)), avg3(A(2), A(3), AR(0)))
        var r = 0
        while (r < 4) { System.arraycopy(row, 0, pred, r * 4, 4); r += 1 }
      case 3 => // B_HE
        val col = Array(avg3(P, L(0), L(1)), avg3(L(0), L(1), L(2)),
          avg3(L(1), L(2), L(3)), avg3(L(2), L(3), L(3)))
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) { pred(r * 4 + c) = col(r); c += 1 }
          r += 1
        }
      case 6 => // B_LD (spec numbering: RD=4, VR=5, LD=6 — round-12 fix)
        val a = Array(A(0), A(1), A(2), A(3), AR(0), AR(1), AR(2), AR(3))
        def v(i: Int): Int =
          if (i < 6) avg3(a(i), a(i + 1), a(i + 2)) else avg3(a(6), a(7), a(7))
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) { pred(r * 4 + c) = v(r + c); c += 1 }
          r += 1
        }
      case 4 => // B_RD
        val e = Array(L(3), L(2), L(1), L(0), P, A(0), A(1), A(2), A(3))
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) {
            val i = 3 + c - r // diagonal start: (3,0) -> e(0..2), (0,3) -> e(6..8)
            pred(r * 4 + c) = avg3(e(i), e(i + 1), e(i + 2))
            c += 1
          }
          r += 1
        }
      case 5 => // B_VR
        val e = Array(L(3), L(2), L(1), L(0), P, A(0), A(1), A(2), A(3))
        val r0 = Array(avg2(e(4), e(5)), avg2(e(5), e(6)), avg2(e(6), e(7)), avg2(e(7), e(8)))
        val r1 = Array(avg3(e(3), e(4), e(5)), avg3(e(4), e(5), e(6)),
          avg3(e(5), e(6), e(7)), avg3(e(6), e(7), e(8)))
        System.arraycopy(r0, 0, pred, 0, 4)
        System.arraycopy(r1, 0, pred, 4, 4)
        pred(8) = avg3(e(2), e(3), e(4)); pred(9) = r0(0); pred(10) = r0(1); pred(11) = r0(2)
        pred(12) = avg3(e(1), e(2), e(3)); pred(13) = r1(0); pred(14) = r1(1); pred(15) = r1(2)
      case 7 => // B_VL
        val a = Array(A(0), A(1), A(2), A(3), AR(0), AR(1), AR(2), AR(3))
        val r0 = Array(avg2(a(0), a(1)), avg2(a(1), a(2)), avg2(a(2), a(3)), avg2(a(3), a(4)))
        val r1 = Array(avg3(a(0), a(1), a(2)), avg3(a(1), a(2), a(3)),
          avg3(a(2), a(3), a(4)), avg3(a(3), a(4), a(5)))
        System.arraycopy(r0, 0, pred, 0, 4)
        System.arraycopy(r1, 0, pred, 4, 4)
        pred(8) = r0(1); pred(9) = r0(2); pred(10) = r0(3); pred(11) = avg3(a(4), a(5), a(6))
        pred(12) = r1(1); pred(13) = r1(2); pred(14) = r1(3); pred(15) = avg3(a(5), a(6), a(7))
      case 8 => // B_HD
        val e = Array(L(3), L(2), L(1), L(0), P, A(0), A(1), A(2))
        pred(12) = avg2(e(0), e(1)); pred(13) = avg3(e(0), e(1), e(2))
        pred(14) = avg2(e(1), e(2)); pred(15) = avg3(e(1), e(2), e(3))
        pred(8) = avg2(e(1), e(2)); pred(9) = avg3(e(1), e(2), e(3))
        pred(10) = avg2(e(2), e(3)); pred(11) = avg3(e(2), e(3), e(4))
        pred(4) = avg2(e(2), e(3)); pred(5) = avg3(e(2), e(3), e(4))
        pred(6) = avg2(e(3), e(4)); pred(7) = avg3(e(3), e(4), e(5))
        pred(0) = avg2(e(3), e(4)); pred(1) = avg3(e(3), e(4), e(5))
        pred(2) = avg3(e(4), e(5), e(6)); pred(3) = avg3(e(5), e(6), e(7))
      case 9 => // B_HU
        pred(0) = avg2(L(0), L(1)); pred(1) = avg3(L(0), L(1), L(2))
        pred(2) = avg2(L(1), L(2)); pred(3) = avg3(L(1), L(2), L(3))
        pred(4) = avg2(L(1), L(2)); pred(5) = avg3(L(1), L(2), L(3))
        pred(6) = avg2(L(2), L(3)); pred(7) = avg3(L(2), L(3), L(3))
        pred(8) = avg2(L(2), L(3)); pred(9) = avg3(L(2), L(3), L(3))
        pred(10) = L(3); pred(11) = L(3)
        pred(12) = L(3); pred(13) = L(3); pred(14) = L(3); pred(15) = L(3)
      case m => fail(s"bad b-mode $m")
    }
  }

  /** A/L/P/AR for one 4x4 Y subblock, with the above-right rule: the
    * rightmost subblock column always reads the row above the MACROBLOCK
    * (replicated at the frame's right edge), for every subblock row.
    */
  private def sbEdges(p: Plane, mbx: Int, mby: Int, sbr: Int, sbc: Int,
      mbW: Int, A: Array[Int], L: Array[Int], AR: Array[Int]): Int = {
    val x0 = mbx * 16 + sbc * 4
    val y0 = mby * 16 + sbr * 4
    var i = 0
    while (i < 4) {
      A(i) = px(p, x0 + i, y0 - 1)
      L(i) = px(p, x0 - 1, y0 + i)
      i += 1
    }
    val P = if (y0 == 0) 127 else if (x0 == 0) 129 else p.get(x0 - 1, y0 - 1)
    if (sbc < 3) {
      val yt = y0 - 1
      i = 0
      while (i < 4) { AR(i) = px(p, x0 + 4 + i, yt); i += 1 }
    } else {
      val yt = mby * 16 - 1
      if (yt < 0) java.util.Arrays.fill(AR, 127)
      else if (mbx == mbW - 1) java.util.Arrays.fill(AR, p.get(p.w - 1, yt))
      else {
        i = 0
        while (i < 4) { AR(i) = p.get(mbx * 16 + 16 + i, yt); i += 1 }
      }
    }
    P
  }

  // --------------------------------------------------------- tokens

  /** probs: flat [4][8][3][11]; returns eob>first flag, fills raster levels. */
  private def decodeBlockTokens(d: BoolDec, plane: Int, ctx0: Int,
      probs: Array[Int], first: Int, levels: Array[Int]): Int = {
    java.util.Arrays.fill(levels, 0)
    var c = first
    var ctx = ctx0
    var prevZero = false
    var any = 0
    while (c < 16) {
      val band = Bands(c)
      val pOff = ((plane * 8 + band) * 3 + ctx) * 11
      val start = if (prevZero) 2 else 0
      val tok = d.tree(CoefTree, probs, pOff, start)
      if (tok == 11) return any // EOB
      var v = 0
      if (tok <= 4) v = tok
      else {
        val cat = tok - 4
        val cp = CatProbs(cat)
        var rem = 0
        var bi = 0
        while (bi < cp.length) { rem = (rem << 1) | d.get(cp(bi)); bi += 1 }
        v = CatBase(cat) + rem
      }
      if (v != 0 && d.get(128) == 1) v = -v
      levels(Zigzag(c)) = v
      if (v != 0) any = 1
      ctx = if (v == 0) 0 else if (v == 1 || v == -1) 1 else 2
      prevZero = v == 0
      c += 1
    }
    any
  }

  // --------------------------------------------------------- loop filter

  private def u2s(v: Int): Int = v - 128
  private def s2u(v: Int): Int = clamp(v, -128, 127) + 128
  private def c128(v: Int): Int = clamp(v, -128, 127)

  private def filterCommon(pix: Array[Int], useOuter: Boolean): Int = {
    val p1 = u2s(pix(2)); val p0 = u2s(pix(3))
    val q0 = u2s(pix(4)); val q1 = u2s(pix(5))
    var a = 3 * (q0 - p0)
    if (useOuter) a += c128(p1 - q1)
    a = c128(a)
    val f = c128(a + 4) >> 3
    val e = c128(a + 3) >> 3
    pix(3) = s2u(p0 + e)
    pix(4) = s2u(q0 - f)
    f
  }

  private def hev(pix: Array[Int], t: Int): Boolean =
    math.abs(pix(2) - pix(3)) > t || math.abs(pix(5) - pix(4)) > t

  private def normalMask(pix: Array[Int], interior: Int, edge: Int): Boolean =
    math.abs(pix(3) - pix(4)) * 2 + math.abs(pix(2) - pix(5)) / 2 <= edge &&
      math.abs(pix(0) - pix(1)) <= interior && math.abs(pix(1) - pix(2)) <= interior &&
      math.abs(pix(2) - pix(3)) <= interior && math.abs(pix(5) - pix(4)) <= interior &&
      math.abs(pix(6) - pix(5)) <= interior && math.abs(pix(7) - pix(6)) <= interior

  private def subblockFilter(pix: Array[Int], hevT: Int, interior: Int, edge: Int): Unit =
    if (normalMask(pix, interior, edge)) {
      if (hev(pix, hevT)) { filterCommon(pix, true); () }
      else {
        val f = filterCommon(pix, false)
        val a = (f + 1) >> 1
        pix(5) = s2u(u2s(pix(5)) - a)
        pix(2) = s2u(u2s(pix(2)) + a)
      }
    }

  private def mbFilter(pix: Array[Int], hevT: Int, interior: Int, edge: Int): Unit =
    if (normalMask(pix, interior, edge)) {
      if (hev(pix, hevT)) { filterCommon(pix, true); () }
      else {
        val p2 = u2s(pix(1)); val p1 = u2s(pix(2)); val p0 = u2s(pix(3))
        val q0 = u2s(pix(4)); val q1 = u2s(pix(5)); val q2 = u2s(pix(6))
        val w = c128(c128(p1 - q1) + 3 * (q0 - p0))
        var a = c128((27 * w + 63) >> 7)
        pix(4) = s2u(q0 - a); pix(3) = s2u(p0 + a)
        a = c128((18 * w + 63) >> 7)
        pix(5) = s2u(q1 - a); pix(2) = s2u(p1 + a)
        a = c128((9 * w + 63) >> 7)
        pix(6) = s2u(q2 - a); pix(1) = s2u(p2 + a)
      }
    }

  private def simpleFilter(pix: Array[Int], edge: Int): Unit =
    if (math.abs(pix(3) - pix(4)) * 2 + math.abs(pix(2) - pix(5)) / 2 <= edge) {
      filterCommon(pix, true); ()
    }

  private def filterEdge(p: Plane, x0: Int, y0: Int, n: Int, vertical: Boolean,
      fn: Array[Int] => Unit): Unit = {
    val pix = new Array[Int](8)
    var i = 0
    while (i < n) {
      var j = 0
      if (vertical) {
        while (j < 8) { pix(j) = p.get(x0 - 4 + j, y0 + i); j += 1 }
        fn(pix)
        j = 0
        while (j < 8) { p.set(x0 - 4 + j, y0 + i, pix(j)); j += 1 }
      } else {
        while (j < 8) { pix(j) = p.get(x0 + i, y0 - 4 + j); j += 1 }
        fn(pix)
        j = 0
        while (j < 8) { p.set(x0 + i, y0 - 4 + j, pix(j)); j += 1 }
      }
      i += 1
    }
  }

  // --------------------------------------------------------- frame decode

  /** Decode a VP8 keyframe payload (the "VP8 " chunk body) to YUV420
    * planes. Inter frames and malformed streams throw
    * IllegalArgumentException with a typed message.
    */
  def decodeKeyframe(payload: Array[Byte]): Yuv = {
    if (payload.length < 10) fail("truncated frame header")
    val tag = (payload(0) & 0xff) | ((payload(1) & 0xff) << 8) | ((payload(2) & 0xff) << 16)
    if ((tag & 1) != 0)
      throw new IllegalArgumentException(
        "unsupported WebP: VP8 inter frame (needs reference frames) — metadata only")
    val firstSize = tag >> 5
    if (!((payload(3) & 0xff) == 0x9d && (payload(4) & 0xff) == 0x01 &&
        (payload(5) & 0xff) == 0x2a)) fail("bad start code")
    val w = (payload(6) & 0xff) | ((payload(7) & 0x3f) << 8)
    val h = (payload(8) & 0xff) | ((payload(9) & 0x3f) << 8)
    if (w == 0 || h == 0) fail("zero dimension")
    Multimodal.checkPixelBudget(w.toLong, h.toLong, "VP8")
    if (10 + firstSize > payload.length) fail("first partition overruns frame")
    val mbW = (w + 15) / 16
    val mbH = (h + 15) / 16
    val W = mbW * 16
    val H = mbH * 16
    val d0 = new BoolDec(payload, 10, 10 + firstSize)

    d0.get(128); d0.get(128) // color_space, clamping
    val segEnabled = d0.get(128) == 1
    val segProbs = Array(255, 255, 255)
    val segQuant = new Array[Int](4)
    val segLf = new Array[Int](4)
    var segAbs = false
    var updateMap = false
    if (segEnabled) {
      updateMap = d0.get(128) == 1
      val updateData = d0.get(128) == 1
      if (updateData) {
        segAbs = d0.get(128) == 1
        var i = 0
        while (i < 4) { segQuant(i) = d0.flaggedSigned(7); i += 1 }
        i = 0
        while (i < 4) { segLf(i) = d0.flaggedSigned(6); i += 1 }
      }
      if (updateMap) {
        var i = 0
        while (i < 3) {
          if (d0.get(128) == 1) segProbs(i) = d0.literal(8)
          i += 1
        }
      }
    }
    val filterType = d0.get(128)
    val filterLevel = d0.literal(6)
    val sharpness = d0.literal(3)
    val lfDeltaOn = d0.get(128) == 1
    val refDelta = new Array[Int](4)
    val modeDelta = new Array[Int](4)
    if (lfDeltaOn && d0.get(128) == 1) {
      var i = 0
      while (i < 4) { refDelta(i) = d0.flaggedSigned(6); i += 1 }
      i = 0
      while (i < 4) { modeDelta(i) = d0.flaggedSigned(6); i += 1 }
    }
    val nparts = 1 << d0.literal(2)
    val yAcQi = d0.literal(7)
    val qDeltas = Array.fill(5)(d0.flaggedSigned(4))
    d0.get(128) // refresh_entropy_probs
    val probs = DefaultCoef.clone()
    var pi = 0
    while (pi < 4 * 8 * 3 * 11) {
      if (d0.get(CoefUpdate(pi)) == 1) probs(pi) = d0.literal(8)
      pi += 1
    }
    val noSkip = d0.get(128) == 1
    val skipProb = if (noSkip) d0.literal(8) else 0

    // token partitions: (nparts-1) 3-byte LE sizes, then the partitions
    var pofs = 10 + firstSize
    val parts = new Array[BoolDec](nparts)
    val sizes = new Array[Int](nparts)
    var i = 0
    while (i < nparts - 1) {
      if (pofs + 3 > payload.length) fail("truncated partition size table")
      sizes(i) = (payload(pofs) & 0xff) | ((payload(pofs + 1) & 0xff) << 8) |
        ((payload(pofs + 2) & 0xff) << 16)
      pofs += 3
      i += 1
    }
    var dataOfs = pofs
    i = 0
    while (i < nparts) {
      val end = if (i < nparts - 1) dataOfs + sizes(i) else payload.length
      if (end > payload.length) fail("token partition overruns frame")
      parts(i) = new BoolDec(payload, dataOfs, end)
      dataOfs = end
      i += 1
    }

    def dequantFor(sid: Int): Array[Int] = {
      var qi = if (segEnabled) {
        if (segAbs) segQuant(sid) else yAcQi + segQuant(sid)
      } else yAcQi
      qi = clamp(qi, 0, 127)
      val y1dc = DcQ(clamp(qi + qDeltas(0), 0, 127))
      val y1ac = AcQ(qi)
      val y2dc = DcQ(clamp(qi + qDeltas(1), 0, 127)) * 2
      var y2ac = AcQ(clamp(qi + qDeltas(2), 0, 127)) * 155 / 100
      if (y2ac < 8) y2ac = 8
      var uvdc = DcQ(clamp(qi + qDeltas(3), 0, 127))
      if (uvdc > 132) uvdc = 132
      val uvac = AcQ(clamp(qi + qDeltas(4), 0, 127))
      Array(y1dc, y1ac, y2dc, y2ac, uvdc, uvac)
    }
    val dqs = Array.tabulate(4)(dequantFor)

    val ry = new Plane(W, H)
    val ru = new Plane(W / 2, H / 2)
    val rv = new Plane(W / 2, H / 2)

    val yNzAbove = new Array[Int](mbW * 4)
    val uNzAbove = new Array[Int](mbW * 2)
    val vNzAbove = new Array[Int](mbW * 2)
    val y2NzAbove = new Array[Int](mbW)
    val yNzLeft = new Array[Int](4)
    val uNzLeft = new Array[Int](2)
    val vNzLeft = new Array[Int](2)
    val y2NzLeft = new Array[Int](1)
    val bmAbove = Array.fill(mbW, 4)(0)
    val mbYmode = Array.ofDim[Int](mbH, mbW)
    val mbSkip = Array.ofDim[Boolean](mbH, mbW)
    val mbSeg = Array.ofDim[Int](mbH, mbW)

    val levels = new Array[Int](16)
    val deq = new Array[Int](16)
    val res = new Array[Int](16)
    val dcs = new Array[Int](16)
    val pred16 = new Array[Int](256)
    val pred4 = new Array[Int](16)
    val eA = new Array[Int](4)
    val eL = new Array[Int](4)
    val eAR = new Array[Int](4)
    val yRes = Array.ofDim[Int](16, 16)
    val uRes = Array.ofDim[Int](4, 16)
    val vRes = Array.ofDim[Int](4, 16)
    val bmodes = new Array[Int](16)

    var mby = 0
    while (mby < mbH) {
      java.util.Arrays.fill(yNzLeft, 0)
      java.util.Arrays.fill(uNzLeft, 0)
      java.util.Arrays.fill(vNzLeft, 0)
      y2NzLeft(0) = 0
      val bmLeft = new Array[Int](4)
      val dt = parts(mby % nparts)
      var mbx = 0
      while (mbx < mbW) {
        val sid =
          if (segEnabled && updateMap) d0.tree(SegTree, segProbs) else 0
        val skip = noSkip && d0.get(skipProb) == 1
        val ymode = d0.tree(KfYmodeTree, KfYmodeProb)
        if (ymode == B_PRED) {
          var sb = 0
          while (sb < 16) {
            val sbr = sb / 4; val sbc = sb % 4
            val above = if (sbr == 0) bmAbove(mbx)(sbc) else bmodes(sb - 4)
            val left = if (sbc == 0) bmLeft(sbr) else bmodes(sb - 1)
            bmodes(sb) = d0.tree(BmodeTree, KfBmode, (above * 10 + left) * 9)
            sb += 1
          }
          var k = 0
          while (k < 4) { bmAbove(mbx)(k) = bmodes(12 + k); bmLeft(k) = bmodes(4 * k + 3); k += 1 }
        } else {
          val bb = BmodeFromY(ymode)
          var k = 0
          while (k < 4) { bmAbove(mbx)(k) = bb; bmLeft(k) = bb; k += 1 }
        }
        val uvmode = d0.tree(UvModeTree, KfUvModeProb)
        val hasY2 = ymode != B_PRED
        val dq = dqs(sid)

        if (skip) {
          var k = 0
          while (k < 4) { yNzAbove(mbx * 4 + k) = 0; yNzLeft(k) = 0; k += 1 }
          k = 0
          while (k < 2) {
            uNzAbove(mbx * 2 + k) = 0; uNzLeft(k) = 0
            vNzAbove(mbx * 2 + k) = 0; vNzLeft(k) = 0
            k += 1
          }
          if (hasY2) { y2NzAbove(mbx) = 0; y2NzLeft(0) = 0 }
          var b = 0
          while (b < 16) { java.util.Arrays.fill(yRes(b), 0); b += 1 }
          b = 0
          while (b < 4) {
            java.util.Arrays.fill(uRes(b), 0); java.util.Arrays.fill(vRes(b), 0)
            b += 1
          }
        } else {
          if (hasY2) {
            val c0 = y2NzAbove(mbx) + y2NzLeft(0)
            val nz = decodeBlockTokens(dt, 1, c0, probs, 0, levels)
            y2NzAbove(mbx) = nz; y2NzLeft(0) = nz
            var k = 0
            while (k < 16) {
              deq(k) = levels(k) * (if (k == 0) dq(2) else dq(3)); k += 1
            }
            iwht4x4(deq, dcs)
          }
          val plane = if (hasY2) 0 else 3
          val first = if (hasY2) 1 else 0
          var sb = 0
          while (sb < 16) {
            val sbr = sb / 4; val sbc = sb % 4
            val c0 = yNzAbove(mbx * 4 + sbc) + yNzLeft(sbr)
            val nz = decodeBlockTokens(dt, plane, c0, probs, first, levels)
            yNzAbove(mbx * 4 + sbc) = nz; yNzLeft(sbr) = nz
            var k = first
            while (k < 16) {
              deq(k) = levels(k) * (if (k == 0) dq(0) else dq(1)); k += 1
            }
            if (hasY2) deq(0) = dcs(sb) else if (first == 1) deq(0) = 0
            idct4x4(deq, yRes(sb))
            sb += 1
          }
          var pl = 0
          while (pl < 2) {
            val above = if (pl == 0) uNzAbove else vNzAbove
            val left = if (pl == 0) uNzLeft else vNzLeft
            val dst = if (pl == 0) uRes else vRes
            var b = 0
            while (b < 4) {
              val sbr = b / 2; val sbc = b % 2
              val c0 = above(mbx * 2 + sbc) + left(sbr)
              val nz = decodeBlockTokens(dt, 2, c0, probs, 0, levels)
              above(mbx * 2 + sbc) = nz; left(sbr) = nz
              var k = 0
              while (k < 16) {
                deq(k) = levels(k) * (if (k == 0) dq(4) else dq(5)); k += 1
              }
              idct4x4(deq, dst(b))
              b += 1
            }
            pl += 1
          }
        }

        // ---------------- reconstruction
        if (hasY2) {
          predictBlock(ry, ymode, mbx * 16, mby * 16, 16, mby > 0, mbx > 0, pred16)
          var sb = 0
          while (sb < 16) {
            val sbr = sb / 4; val sbc = sb % 4
            val r = yRes(sb)
            var rr = 0
            while (rr < 4) {
              var cc = 0
              while (cc < 4) {
                val yy = sbr * 4 + rr; val xx = sbc * 4 + cc
                ry.set(mbx * 16 + xx, mby * 16 + yy,
                  clip255(pred16(yy * 16 + xx) + r(rr * 4 + cc)))
                cc += 1
              }
              rr += 1
            }
            sb += 1
          }
        } else {
          var sb = 0
          while (sb < 16) {
            val sbr = sb / 4; val sbc = sb % 4
            val p = sbEdges(ry, mbx, mby, sbr, sbc, mbW, eA, eL, eAR)
            predict4x4(bmodes(sb), eA, eL, p, eAR, pred4)
            val r = yRes(sb)
            var rr = 0
            while (rr < 4) {
              var cc = 0
              while (cc < 4) {
                ry.set(mbx * 16 + sbc * 4 + cc, mby * 16 + sbr * 4 + rr,
                  clip255(pred4(rr * 4 + cc) + r(rr * 4 + cc)))
                cc += 1
              }
              rr += 1
            }
            sb += 1
          }
        }
        var pl = 0
        while (pl < 2) {
          val rec = if (pl == 0) ru else rv
          val rsd = if (pl == 0) uRes else vRes
          predictBlock(rec, uvmode, mbx * 8, mby * 8, 8, mby > 0, mbx > 0, pred16)
          var b = 0
          while (b < 4) {
            val sbr = b / 2; val sbc = b % 2
            val r = rsd(b)
            var rr = 0
            while (rr < 4) {
              var cc = 0
              while (cc < 4) {
                val yy = sbr * 4 + rr; val xx = sbc * 4 + cc
                rec.set(mbx * 8 + xx, mby * 8 + yy,
                  clip255(pred16(yy * 8 + xx) + r(rr * 4 + cc)))
                cc += 1
              }
              rr += 1
            }
            b += 1
          }
          pl += 1
        }
        mbYmode(mby)(mbx) = ymode
        mbSkip(mby)(mbx) = skip
        mbSeg(mby)(mbx) = sid
        mbx += 1
      }
      mby += 1
    }

    // ---------------- loop filter
    if (filterLevel > 0) {
      var fy = 0
      while (fy < mbH) {
        var fx = 0
        while (fx < mbW) {
          var lvl = filterLevel
          if (segEnabled)
            lvl = if (segAbs) segLf(mbSeg(fy)(fx)) else lvl + segLf(mbSeg(fy)(fx))
          if (lfDeltaOn) {
            lvl += refDelta(0) // keyframes are INTRA_FRAME
            if (mbYmode(fy)(fx) == B_PRED) lvl += modeDelta(0)
          }
          lvl = clamp(lvl, 0, 63)
          if (lvl > 0) {
            var interior = lvl
            if (sharpness > 0) {
              interior >>= (if (sharpness > 4) 2 else 1)
              if (interior > 9 - sharpness) interior = 9 - sharpness
            }
            if (interior < 1) interior = 1
            val mbEdge = (lvl + 2) * 2 + interior
            val sbEdge = lvl * 2 + interior
            val hevT = if (lvl >= 40) 2 else if (lvl >= 15) 1 else 0
            val inner = !mbSkip(fy)(fx) || mbYmode(fy)(fx) == B_PRED
            val yx = fx * 16; val yy = fy * 16
            val cx = fx * 8; val cy = fy * 8
            if (filterType == 1) {
              val mbf = (pix: Array[Int]) => simpleFilter(pix, mbEdge)
              val sbf = (pix: Array[Int]) => simpleFilter(pix, sbEdge)
              if (fx > 0) filterEdge(ry, yx, yy, 16, vertical = true, mbf)
              if (inner) {
                filterEdge(ry, yx + 4, yy, 16, vertical = true, sbf)
                filterEdge(ry, yx + 8, yy, 16, vertical = true, sbf)
                filterEdge(ry, yx + 12, yy, 16, vertical = true, sbf)
              }
              if (fy > 0) filterEdge(ry, yx, yy, 16, vertical = false, mbf)
              if (inner) {
                filterEdge(ry, yx, yy + 4, 16, vertical = false, sbf)
                filterEdge(ry, yx, yy + 8, 16, vertical = false, sbf)
                filterEdge(ry, yx, yy + 12, 16, vertical = false, sbf)
              }
            } else {
              val mbf = (pix: Array[Int]) => mbFilter(pix, hevT, interior, mbEdge)
              val sbf = (pix: Array[Int]) => subblockFilter(pix, hevT, interior, sbEdge)
              if (fx > 0) {
                filterEdge(ry, yx, yy, 16, vertical = true, mbf)
                filterEdge(ru, cx, cy, 8, vertical = true, mbf)
                filterEdge(rv, cx, cy, 8, vertical = true, mbf)
              }
              if (inner) {
                filterEdge(ry, yx + 4, yy, 16, vertical = true, sbf)
                filterEdge(ry, yx + 8, yy, 16, vertical = true, sbf)
                filterEdge(ry, yx + 12, yy, 16, vertical = true, sbf)
                filterEdge(ru, cx + 4, cy, 8, vertical = true, sbf)
                filterEdge(rv, cx + 4, cy, 8, vertical = true, sbf)
              }
              if (fy > 0) {
                filterEdge(ry, yx, yy, 16, vertical = false, mbf)
                filterEdge(ru, cx, cy, 8, vertical = false, mbf)
                filterEdge(rv, cx, cy, 8, vertical = false, mbf)
              }
              if (inner) {
                filterEdge(ry, yx, yy + 4, 16, vertical = false, sbf)
                filterEdge(ry, yx, yy + 8, 16, vertical = false, sbf)
                filterEdge(ry, yx, yy + 12, 16, vertical = false, sbf)
                filterEdge(ru, cx, cy + 4, 8, vertical = false, sbf)
                filterEdge(rv, cx, cy + 4, 8, vertical = false, sbf)
              }
            }
          }
          fx += 1
        }
        fy += 1
      }
    }

    // crop
    val uvW = (w + 1) / 2
    val uvH = (h + 1) / 2
    val oy = new Array[Byte](w * h)
    val ou = new Array[Byte](uvW * uvH)
    val ov = new Array[Byte](uvW * uvH)
    var r = 0
    while (r < h) { System.arraycopy(ry.d, r * W, oy, r * w, w); r += 1 }
    r = 0
    while (r < uvH) {
      System.arraycopy(ru.d, r * (W / 2), ou, r * uvW, uvW)
      System.arraycopy(rv.d, r * (W / 2), ov, r * uvW, uvW)
      r += 1
    }
    Yuv(w, h, oy, ou, ov)
  }

  // --------------------------------------------------- subset encoder

  /** Minimal bool ENCODER (exact inverse of [[BoolDec]]): BigInt `low`
    * keeps the textbook carry-free formulation exact; the stream is the
    * zero-padded binary fraction. Used only by the DC-lossless subset
    * encoder below (fixture-scale payloads).
    */
  private final class BoolEnc {
    private var low = BigInt(0)
    private var range = 255
    private var bits = 0
    private val treeBuf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]

    def put(bit: Int, prob: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (bit == 1) { low += split; range -= split }
      else range = split
      while (range < 128) { range <<= 1; low <<= 1; bits += 1 }
    }

    def literal(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { put((v >> i) & 1, 128); i -= 1 }
    }

    def tree(t: Array[Int], probs: Array[Int], value: Int, probOff: Int = 0,
        start: Int = 0): Unit = {
      treeBuf.clear()
      def dfs(i: Int): Boolean = {
        var b = 0
        while (b < 2) {
          val x = t(i + b)
          if (x <= 0) {
            if (-x == value) { treeBuf += ((i >> 1, b)); return true }
          } else if (dfs(x)) { treeBuf += ((i >> 1, b)); return true }
          b += 1
        }
        false
      }
      require(dfs(start), s"leaf $value not reachable")
      var k = treeBuf.length - 1
      while (k >= 0) { put(treeBuf(k)._2, probs(probOff + treeBuf(k)._1)); k -= 1 }
    }

    def finish(): Array[Byte] = {
      val total = bits + 8
      val nbytes = (total + 7) / 8
      val v = low << (nbytes * 8 - total)
      val arr = v.toByteArray
      val out = new Array[Byte](nbytes + 4)
      // BigInt.toByteArray is big-endian with a possible sign byte / short length
      val src = if (arr.length > nbytes) arr.drop(arr.length - nbytes) else arr
      System.arraycopy(src, 0, out, nbytes - src.length, src.length)
      out
    }
  }

  /** Exactly-lossless 16x16 VP8 keyframe from 16 flat 4x4 Y tiles (U/V
    * flat 128): B_PRED with B_DC submodes at qindex 0 — the DC quantizer
    * is 4, a flat residual r transforms to DC exactly 8r, so level 2r
    * reconstructs r with zero error (the mm04/mm10 lossless-subcase
    * pattern). The decoded Y plane therefore EQUALS the tile targets,
    * which is what lets the mm13 DuckDB oracle recompute the pixel sum
    * straight from the corpus text.
    */
  def encodeDcLossless16(tiles: Array[Int]): Array[Byte] = {
    require(tiles.length == 16, "need 16 tile values")
    val e0 = new BoolEnc
    // header: no segmentation, filter 0, 1 partition, qindex 0, no coef
    // updates, skip enabled
    e0.put(0, 128); e0.put(0, 128) // color space, clamping
    e0.put(0, 128) // segmentation
    e0.put(0, 128) // filter_type
    e0.literal(0, 6) // filter_level
    e0.literal(0, 3) // sharpness
    e0.put(0, 128) // lf deltas
    e0.literal(0, 2) // 1 token partition
    e0.literal(0, 7) // y_ac_qi = 0
    var i = 0
    while (i < 5) { e0.put(0, 128); i += 1 } // q deltas
    e0.put(0, 128) // refresh entropy
    i = 0
    while (i < 4 * 8 * 3 * 11) { e0.put(0, CoefUpdate(i)); i += 1 }
    e0.put(1, 128) // mb_no_coeff_skip
    val skipProb = 200
    e0.literal(skipProb, 8)

    // target plane (16x16): recon == target by construction
    val t = new Plane(16, 16)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) { t.set(x, y, tiles((y / 4) * 4 + x / 4)); x += 1 }
      y += 1
    }

    // residual DC per subblock from B_DC prediction over the target
    val eA = new Array[Int](4); val eL = new Array[Int](4); val eAR = new Array[Int](4)
    val rs = new Array[Int](16)
    var sb = 0
    while (sb < 16) {
      val sbr = sb / 4; val sbc = sb % 4
      sbEdges(t, 0, 0, sbr, sbc, 1, eA, eL, eAR)
      val dc = (eA(0) + eA(1) + eA(2) + eA(3) + eL(0) + eL(1) + eL(2) + eL(3) + 4) >> 3
      rs(sb) = tiles(sbr * 4 + sbc) - dc
      sb += 1
    }
    val allZero = rs.forall(_ == 0)

    // modes
    e0.put(if (allZero) 1 else 0, skipProb) // skip
    e0.tree(KfYmodeTree, KfYmodeProb, 4) // B_PRED
    sb = 0
    val bm = new Array[Int](16)
    while (sb < 16) {
      val sbr = sb / 4; val sbc = sb % 4
      val above = if (sbr == 0) 0 else bm(sb - 4)
      val left = if (sbc == 0) 0 else bm(sb - 1)
      e0.tree(BmodeTree, KfBmode, 0, (above * 10 + left) * 9)
      bm(sb) = 0
      sb += 1
    }
    e0.tree(UvModeTree, KfUvModeProb, 0) // uv DC

    // tokens (partition 1): Y blocks DC-only (plane 3), chroma all EOB
    val et = new BoolEnc
    if (!allZero) {
      val yNzA = new Array[Int](4); val yNzL = new Array[Int](4)
      sb = 0
      while (sb < 16) {
        val sbr = sb / 4; val sbc = sb % 4
        val ctx = yNzA(sbc) + yNzL(sbr)
        val lvl = 2 * rs(sb)
        val pOff = ((3 * 8 + Bands(0)) * 3 + ctx) * 11
        if (lvl == 0) {
          et.tree(CoefTree, probsFlat, 11, pOff) // EOB
          yNzA(sbc) = 0; yNzL(sbr) = 0
        } else {
          val a = math.abs(lvl)
          val tok =
            if (a <= 4) a
            else {
              var cat = 1
              while (a >= CatBase(cat) + (1 << CatProbs(cat).length)) cat += 1
              4 + cat
            }
          et.tree(CoefTree, probsFlat, tok, pOff)
          if (tok > 4) {
            val cat = tok - 4
            val cp = CatProbs(cat)
            val rem = a - CatBase(cat)
            var bi = 0
            while (bi < cp.length) {
              et.put((rem >> (cp.length - 1 - bi)) & 1, cp(bi)); bi += 1
            }
          }
          et.put(if (lvl < 0) 1 else 0, 128)
          // EOB at position 1 (prev token nonzero)
          val ctx2 = if (a == 1) 1 else 2
          et.tree(CoefTree, probsFlat, 11, ((3 * 8 + Bands(1)) * 3 + ctx2) * 11)
          yNzA(sbc) = 1; yNzL(sbr) = 1
        }
        sb += 1
      }
      // chroma: 8 all-zero blocks (ctx stays 0)
      var b = 0
      while (b < 8) {
        et.tree(CoefTree, probsFlat, 11, ((2 * 8 + Bands(0)) * 3 + 0) * 11)
        b += 1
      }
    }

    val p0 = e0.finish()
    val pt = et.finish()
    val tag = (p0.length << 5) | (1 << 4) // keyframe, show, ver 0
    val out = new Array[Byte](10 + p0.length + pt.length)
    out(0) = (tag & 0xff).toByte
    out(1) = ((tag >> 8) & 0xff).toByte
    out(2) = ((tag >> 16) & 0xff).toByte
    out(3) = 0x9d.toByte; out(4) = 0x01; out(5) = 0x2a
    out(6) = 16; out(7) = 0; out(8) = 16; out(9) = 0
    System.arraycopy(p0, 0, out, 10, p0.length)
    System.arraycopy(pt, 0, out, 10 + p0.length, pt.length)
    out
  }

  /** the untouched default probability table, flat (the subset encoder
    * sends no updates, so tokens code against the defaults)
    */
  private def probsFlat: Array[Int] = DefaultCoef
}
