package graft.ops

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import graft.core.Refusal
import graft.etl.{JArr, JInt, JObj, JStr, JVal, Json}

/** safetensors codec — the tensor-shipping container of the modern model
  * ecosystem (weights, embedding dumps, tokenized batches): a u64
  * little-endian header length, a JSON header mapping tensor names to
  * `{dtype, shape, data_offsets}` (offsets into the byte buffer that
  * follows, relative to its start), then the raw little-endian buffer.
  * Written against the PUBLIC format description only; the JSON layer
  * reuses [[graft.etl.Json]], and the writer emits the canonical form
  * (tensors at ascending offsets, metadata first) so round trips are
  * byte-stable. Supported dtypes: F32, F64, I32, I64 (everything else
  * refuses `unsupported_dtype` rather than misreading).
  *
  * Typed refusals: `bad_header` (length prefix past the budget or the
  * file, non-JSON header, malformed entry), `unsupported_dtype`,
  * `bad_offsets` (overlap/gap/misalignment with the declared shape, or
  * offsets past the buffer), `truncated`. Header length and total
  * element counts are capped by [[graft.core.Budget.maxInflatedBytes]]
  * BEFORE any allocation.
  *
  * Scale shape: one shard = one file built/parsed inside a per-group
  * map — the container-family contract.
  */
object Safetensors {

  final case class Tensor(dtype: String, shape: Vector[Long], data: Array[Byte]) {
    def elems: Long = shape.product
    private def le: ByteBuffer = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    def floats: Array[Float] = {
      require(dtype == "F32", s"not F32: $dtype")
      val out = new Array[Float](elems.toInt); le.asFloatBuffer.get(out); out
    }
    def doubles: Array[Double] = {
      require(dtype == "F64", s"not F64: $dtype")
      val out = new Array[Double](elems.toInt); le.asDoubleBuffer.get(out); out
    }
    def longs: Array[Long] = {
      require(dtype == "I64", s"not I64: $dtype")
      val out = new Array[Long](elems.toInt); le.asLongBuffer.get(out); out
    }
    def ints: Array[Int] = {
      require(dtype == "I32", s"not I32: $dtype")
      val out = new Array[Int](elems.toInt); le.asIntBuffer.get(out); out
    }
    /** F16 payload dequantized to float (exact: every half is a float) */
    def halfFloats: Array[Float] = {
      require(dtype == "F16", s"not F16: $dtype")
      val out = new Array[Float](elems.toInt)
      var i = 0
      while (i < out.length) {
        out(i) = Safetensors.halfToFloat(
          ((data(i * 2) & 0xff) | ((data(i * 2 + 1) & 0xff) << 8)).toShort)
        i += 1
      }
      out
    }
    /** BF16 payload widened to float (exact: bf16 is f32's top 16 bits) */
    def bfloats: Array[Float] = {
      require(dtype == "BF16", s"not BF16: $dtype")
      val out = new Array[Float](elems.toInt)
      var i = 0
      while (i < out.length) {
        out(i) = java.lang.Float.intBitsToFloat(
          ((data(i * 2) & 0xff) | ((data(i * 2 + 1) & 0xff) << 8)) << 16)
        i += 1
      }
      out
    }
  }

  private val Widths: Map[String, Int] =
    Map("F32" -> 4, "F64" -> 8, "I32" -> 4, "I64" -> 8,
      "F16" -> 2, "BF16" -> 2)

  // ---- half-precision conversion (IEEE 754 binary16, RN-even — pinned
  // bit-for-bit against numpy's astype(float16) in SafetensorsSpec) ----

  /** f32 → f16 bits with round-to-nearest-even. All intermediate
    * arithmetic is EXACT (f32→f64 widening + power-of-two scaling), and
    * Math.rint IS round-half-to-even, so no bit-twiddling tie logic.
    */
  def floatToHalf(v: Float): Short = {
    val bits = java.lang.Float.floatToIntBits(v)
    val s = (bits >>> 16) & 0x8000
    val abs = java.lang.Float.intBitsToFloat(bits & 0x7fffffff)
    if (java.lang.Float.isNaN(v)) return (s | 0x7e00).toShort
    if (abs.isInfinite || abs >= 65520.0f) return (s | 0x7c00).toShort
    if (abs < 6.103515625e-5f) { // below 2^-14: subnormal halves are n/2^24
      val n = Math.rint(abs.toDouble * 16777216.0).toInt
      return (s | n).toShort // n == 1024 lands exactly on the first normal
    }
    val e2 = Math.getExponent(abs) // floor(log2), exact
    var n = Math.rint(abs.toDouble * math.pow(2.0, 10 - e2)).toInt // in [1024, 2048]
    var he = e2 + 15
    if (n == 2048) { n = 1024; he += 1 }
    if (he >= 31) (s | 0x7c00).toShort
    else (s | (he << 10) | (n - 1024)).toShort
  }

  /** f16 bits → float, exact. */
  def halfToFloat(h: Short): Float = {
    val s = if ((h & 0x8000) != 0) -1.0f else 1.0f
    val e = (h >> 10) & 0x1f
    val m = h & 0x3ff
    if (e == 0x1f) {
      if (m != 0) Float.NaN
      else if (s < 0) Float.NegativeInfinity else Float.PositiveInfinity
    } else if (e == 0) s * m * 5.9604644775390625e-8f // 2^-24
    else s * (1024 + m) * math.pow(2.0, e - 25).toFloat
  }

  /** f32 → bf16 bits with round-to-nearest-even (the TF convention). */
  def floatToBf16(v: Float): Short = {
    val x = java.lang.Float.floatToIntBits(v)
    if ((x & 0x7fffffff) > 0x7f800000) (((x >>> 16) | 0x40) & 0xffff).toShort
    else {
      val lsb = (x >>> 16) & 1
      ((x + 0x7fff + lsb) >>> 16).toShort
    }
  }

  private def fail(kind: String, msg: String): Nothing =
    throw new Refusal(kind, s"$kind: $msg")

  // ------------------------------------------------------------- write --

  def floatTensor(shape: Seq[Long], v: Array[Float]): Tensor = {
    val b = ByteBuffer.allocate(v.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    b.asFloatBuffer.put(v); Tensor("F32", shape.toVector, b.array())
  }
  def longTensor(v: Array[Long]): Tensor = {
    val b = ByteBuffer.allocate(v.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    b.asLongBuffer.put(v); Tensor("I64", Vector(v.length.toLong), b.array())
  }
  /** F16 tensor: values converted RN-even (numpy astype(float16) parity) */
  def halfTensor(shape: Seq[Long], v: Array[Float]): Tensor = {
    val b = new Array[Byte](v.length * 2)
    var i = 0
    while (i < v.length) {
      val h = floatToHalf(v(i))
      b(i * 2) = (h & 0xff).toByte; b(i * 2 + 1) = ((h >> 8) & 0xff).toByte
      i += 1
    }
    Tensor("F16", shape.toVector, b)
  }
  /** BF16 tensor: values converted RN-even (the TF convention) */
  def bf16Tensor(shape: Seq[Long], v: Array[Float]): Tensor = {
    val b = new Array[Byte](v.length * 2)
    var i = 0
    while (i < v.length) {
      val h = floatToBf16(v(i))
      b(i * 2) = (h & 0xff).toByte; b(i * 2 + 1) = ((h >> 8) & 0xff).toByte
      i += 1
    }
    Tensor("BF16", shape.toVector, b)
  }

  /** Canonical serialization: tensors laid out in the given order at
    * ascending offsets, `__metadata__` first when present.
    */
  def write(tensors: Seq[(String, Tensor)],
      metadata: Seq[(String, String)] = Nil): Array[Byte] = {
    tensors.foreach { case (n, t) =>
      val w = Widths.getOrElse(t.dtype,
        throw new IllegalArgumentException(s"unwritable dtype ${t.dtype}"))
      require(t.shape.product * w == t.data.length,
        s"$n: shape ${t.shape} x $w != ${t.data.length}")
    }
    val entries = Vector.newBuilder[(String, JVal)]
    if (metadata.nonEmpty)
      entries += (("__metadata__",
        JObj(metadata.toVector.map { case (k, v) => k -> JStr(v) })))
    var off = 0L
    tensors.foreach { case (n, t) =>
      entries += ((n, JObj(Vector(
        "dtype" -> JStr(t.dtype),
        "shape" -> JArr(t.shape.map(x => JInt(BigInt(x))).toVector),
        "data_offsets" -> JArr(Vector(JInt(BigInt(off)),
          JInt(BigInt(off + t.data.length))))))))
      off += t.data.length
    }
    val header = render(JObj(entries.result())).getBytes(UTF_8)
    val out = ByteBuffer.allocate(8 + header.length + off.toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.putLong(header.length.toLong)
    out.put(header)
    tensors.foreach { case (_, t) => out.put(t.data) }
    out.array()
  }

  /** minimal JSON rendering (the reused parser's inverse for the subset
    * the header needs: objects, arrays, strings, integers)
    */
  private def render(v: JVal): String = v match {
    case JObj(fields) =>
      fields.map { case (k, x) => s"${graft.etl.Json.quote(k)}:${render(x)}" }
        .mkString("{", ",", "}")
    case JArr(items) => items.map(render).mkString("[", ",", "]")
    case JStr(s)     => graft.etl.Json.quote(s)
    case JInt(i)     => i.toString
    case other       => throw new IllegalArgumentException(s"unrenderable $other")
  }

  // -------------------------------------------------------------- read --

  def read(bytes: Array[Byte]): (Vector[(String, Tensor)], Map[String, String]) = {
    if (bytes.length < 8) fail("truncated", s"${bytes.length} bytes")
    val hlen = ByteBuffer.wrap(bytes, 0, 8).order(ByteOrder.LITTLE_ENDIAN).getLong
    if (hlen < 2 || hlen > graft.core.Budget.maxInflatedBytes)
      fail("bad_header", s"header length $hlen")
    if (8 + hlen > bytes.length) fail("truncated", s"header $hlen past ${bytes.length}")
    val header =
      try Json.parse(new String(bytes, 8, hlen.toInt, UTF_8))
      catch { case _: Exception => fail("bad_header", "unparseable JSON") }
    val fields = header match {
      case JObj(fs) => fs
      case _        => fail("bad_header", "header not an object")
    }
    val bufStart = 8 + hlen.toInt
    val bufLen = bytes.length - bufStart
    var metadata = Map.empty[String, String]
    val tensors = Vector.newBuilder[(String, Tensor)]
    val intervals = Vector.newBuilder[(Long, Long)]
    val seenNames = scala.collection.mutable.HashSet.empty[String]
    fields.foreach {
      case ("__metadata__", JObj(ms)) =>
        metadata = ms.collect { case (k, JStr(s)) => k -> s }.toMap
      case ("__metadata__", _) => fail("bad_header", "__metadata__ not an object")
      case (name, JObj(entry)) =>
        val m = entry.toMap
        val dtype = m.get("dtype") match {
          case Some(JStr(s)) => s
          case _             => fail("bad_header", s"$name: no dtype")
        }
        val width = Widths.getOrElse(dtype, fail("unsupported_dtype", s"$name: $dtype"))
        val shape = m.get("shape") match {
          case Some(JArr(dims)) => dims.map {
            case JInt(i) if i >= 0 => i.toLong
            case other             => fail("bad_header", s"$name: shape $other")
          }.toVector
          case _ => fail("bad_header", s"$name: no shape")
        }
        val elems =
          try shape.foldLeft(1L)(Math.multiplyExact)
          catch { case _: ArithmeticException => fail("bad_header", s"$name: shape overflow") }
        val need =
          try Math.multiplyExact(elems, width.toLong)
          catch { case _: ArithmeticException => fail("bad_header", s"$name: size overflow") }
        if (need > graft.core.Budget.maxInflatedBytes)
          fail("bad_header", s"$name: $elems elements past budget")
        val (a, b) = m.get("data_offsets") match {
          case Some(JArr(Vector(JInt(x), JInt(y))))
              if x >= 0 && y >= x && x.isValidLong && y.isValidLong =>
            (x.toLong, y.toLong)
          case _ => fail("bad_header", s"$name: bad data_offsets")
        }
        if (b - a != need) fail("bad_offsets", s"$name: ${b - a} != $elems x $width")
        if (b > bufLen) fail("truncated", s"$name: offset $b past buffer $bufLen")
        if (!seenNames.add(name)) fail("bad_header", s"$name: duplicate tensor name")
        tensors += ((name,
          Tensor(dtype, shape,
            java.util.Arrays.copyOfRange(bytes, bufStart + a.toInt, bufStart + b.toInt))))
        intervals += ((a, b))
      case (name, _) => fail("bad_header", s"$name: entry not an object")
    }
    // the spec requires the buffer exactly covered, no overlaps/gaps — as
    // an interval tiling, not a length sum (a sum check accepts layouts
    // where an overlap and a gap cancel, which upstream rejects)
    val sorted = intervals.result().sortBy(iv => (iv._1, iv._2))
    var cursor = 0L
    sorted.foreach { case (a, b) =>
      if (a != cursor)
        fail("bad_offsets",
          if (a < cursor) s"overlap at $a (expected $cursor)" else s"gap at $cursor (next $a)")
      cursor = b
    }
    if (cursor != bufLen) fail("bad_offsets", s"buffer $bufLen, covered $cursor")
    (tensors.result(), metadata)
  }

  def readSafe(bytes: Array[Byte])
      : Either[String, (Vector[(String, Tensor)], Map[String, String])] =
    Refusal.attempt(read(bytes), "bad_header")
}
