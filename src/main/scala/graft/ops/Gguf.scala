package graft.ops

/** GGUF container support (the llama.cpp model/tensor format; public
  * spec: ggml's docs/gguf.md, version 3) — the one tensor container the
  * shard matrix (safetensors / npy / tfrecord / arrow) still lacked, and
  * the format local-inference model dumps actually ship. Little-endian
  * throughout: "GGUF" magic, u32 version, u64 tensor/metadata counts,
  * typed metadata KVs (scalars, strings, typed arrays), a tensor
  * directory (name, dims, ggml type, data-relative offset), then the
  * data section aligned to `general.alignment` (default 32).
  *
  * Supported tensor types: F32 (0), F16 (1), Q8_0 (8; 32-element blocks
  * of one f16 scale + 32 int8 quants, 34 bytes, dequant x = d*q), and
  * Q4_0 (2; 32-element blocks of one f16 scale + 16 nibble-packed bytes,
  * 18 bytes, element j in the low nibble of qs[j] and element j+16 in the
  * high nibble, dequant x = d*(q-8)), plus the k-quants llama.cpp
  * artifacts actually ship (round 16): Q4_K (12; 256-element
  * super-blocks, f16 d/dmin + 12 packed 6-bit sub-scale bytes + 128
  * nibble bytes, 144 total, x = d*sc*q - dmin*m), Q5_K (13; Q4_K plus
  * 32 qh fifth-bit bytes, 176 total, x = d*sc*(q_lo|hbit<<4) - dmin*m)
  * and Q6_K (14; 128 ql + 64 qh + 16 int8 sub-scales + f16 d, 210
  * total, x = d*sc*(q-32)).
  * Rows must be a multiple of the block size (32 / 256). The remaining
  * forms (IQ-quants etc.) refuse `unsupported` with the type id rather
  * than guessing block layouts. Contract matches [[Safetensors]]: strict bounded reader
  * (counts/offsets validated before any allocation, overlap-free
  * monotone tensor regions, alignment enforced, budget-capped), typed
  * refusals, deterministic writer. GgufSpec pins the reader against
  * fixtures from an independent python transcription of the same spec
  * and runs the mutation sweep.
  */
object Gguf {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_frame", msg)

  sealed trait MetaVal
  final case class MString(s: String) extends MetaVal
  final case class MInt(v: Long) extends MetaVal
  final case class MFloat(v: Double) extends MetaVal
  final case class MBool(b: Boolean) extends MetaVal
  final case class MArray(items: Vector[MetaVal]) extends MetaVal

  final case class TensorInfo(name: String, dims: Vector[Long],
      ggmlType: Int, offset: Long) {
    /** checked product: 8 lying 2^31 dims would overflow a plain fold */
    def elements: Long = dims.foldLeft(1L) { (acc, d) =>
      val v = acc * d
      if (acc != 0 && (v / acc != d || v > (1L << 40)))
        throw new Refusal("too_large", s"$name: ${dims.mkString("x")} elements")
      v
    }
    def byteSize: Long = ggmlType match {
      case 0 => elements * 4 // F32
      case 1 => elements * 2 // F16
      case 2 => // Q4_0: 32-element blocks of f16 scale + 16 nibble-packed bytes
        if (dims.head % 32 != 0)
          throw new Refusal("bad_frame", s"$name: Q4_0 row ${dims.head} not a multiple of 32")
        elements / 32 * 18
      case 8 => // Q8_0: 32-element blocks of f16 scale + 32 int8 quants
        if (dims.head % 32 != 0)
          throw new Refusal("bad_frame", s"$name: Q8_0 row ${dims.head} not a multiple of 32")
        elements / 32 * 34
      case 12 => // Q4_K: 256-element super-blocks, 144 bytes (d, dmin,
        // 12 packed 6-bit scale/min bytes, 128 nibble-packed quants)
        if (dims.head % 256 != 0)
          throw new Refusal("bad_frame", s"$name: Q4_K row ${dims.head} not a multiple of 256")
        elements / 256 * 144
      case 13 => // Q5_K: 256-element super-blocks, 176 bytes (d, dmin,
        // 12 packed scale bytes, 32 qh high-bit bytes, 128 nibble bytes)
        if (dims.head % 256 != 0)
          throw new Refusal("bad_frame", s"$name: Q5_K row ${dims.head} not a multiple of 256")
        elements / 256 * 176
      case 14 => // Q6_K: 256-element super-blocks, 210 bytes (128 ql,
        // 64 qh, 16 int8 sub-scales, f16 d)
        if (dims.head % 256 != 0)
          throw new Refusal("bad_frame", s"$name: Q6_K row ${dims.head} not a multiple of 256")
        elements / 256 * 210
      case t => throw new Refusal("unsupported", s"ggml tensor type $t")
    }
  }

  final case class Model(metadata: Vector[(String, MetaVal)],
      tensors: Vector[TensorInfo], data: Array[Byte], alignment: Int) {
    def meta(key: String): Option[MetaVal] =
      metadata.collectFirst { case (k, v) if k == key => v }

    def floats(name: String): Array[Float] = {
      val t = tensors.find(_.name == name)
        .getOrElse(bad(s"no tensor named $name"))
      val n = t.elements.toInt
      val out = new Array[Float](n)
      var i = 0
      t.ggmlType match {
        case 0 =>
          while (i < n) {
            val o = t.offset.toInt + i * 4
            out(i) = java.lang.Float.intBitsToFloat(
              (data(o) & 0xff) | ((data(o + 1) & 0xff) << 8) |
                ((data(o + 2) & 0xff) << 16) | ((data(o + 3) & 0xff) << 24))
            i += 1
          }
        case 1 =>
          while (i < n) {
            val o = t.offset.toInt + i * 2
            val h = ((data(o) & 0xff) | ((data(o + 1) & 0xff) << 8)).toShort
            out(i) = Safetensors.halfToFloat(h)
            i += 1
          }
        case 2 =>
          // Q4_0 block layout (ggml): qs[j] packs element j in the low
          // nibble and element j+16 in the high nibble; x = d * (q - 8)
          while (i < n) {
            val blk = t.offset.toInt + (i / 32) * 18
            val d = Safetensors.halfToFloat(
              ((data(blk) & 0xff) | ((data(blk + 1) & 0xff) << 8)).toShort)
            val e = i % 32
            val b = data(blk + 2 + e % 16) & 0xff
            val q = if (e < 16) b & 0x0f else b >> 4
            out(i) = d * (q - 8)
            i += 1
          }
        case 8 =>
          while (i < n) {
            val blk = t.offset.toInt + (i / 32) * 34
            val d = Safetensors.halfToFloat(
              ((data(blk) & 0xff) | ((data(blk + 1) & 0xff) << 8)).toShort)
            out(i) = d * data(blk + 2 + i % 32)
            i += 1
          }
        case 12 =>
          // Q4_K super-block (ggml block_q4_K, k-quants): d and dmin f16,
          // 12 bytes of 6-bit sub-block scales/mins (get_scale_min_k4
          // packing), 128 nibble bytes where within each 64-element
          // chunk qs[l] holds element l low / element l+32 high;
          // x = (d*sc)*q - (dmin*m)
          while (i < n) {
            val blk = t.offset.toInt + (i / 256) * 144
            val d = Safetensors.halfToFloat(
              ((data(blk) & 0xff) | ((data(blk + 1) & 0xff) << 8)).toShort)
            val dmin = Safetensors.halfToFloat(
              ((data(blk + 2) & 0xff) | ((data(blk + 3) & 0xff) << 8)).toShort)
            val e = i % 256
            val sub = e / 32 // 0..7
            val (sc, m) = scaleMinK4(data, blk + 4, sub)
            val chunk = e / 64 // which 64-element chunk
            val l = e % 64
            val qb = data(blk + 16 + chunk * 32 + l % 32) & 0xff
            val q = if (l < 32) qb & 0x0f else qb >> 4
            out(i) = d * sc * q - dmin * m
            i += 1
          }
        case 13 =>
          // Q5_K super-block (ggml block_q5_K): d/dmin f16, the same
          // 12-byte get_scale_min_k4 field as Q4_K, 32 qh bytes carrying
          // the fifth quant bit (bit pair 2c/2c+1 of qh[l] for chunk c's
          // low/high-nibble element), 128 nibble bytes;
          // x = (d*sc)*(q_lo | hibit<<4) - (dmin*m)
          while (i < n) {
            val blk = t.offset.toInt + (i / 256) * 176
            val d = Safetensors.halfToFloat(
              ((data(blk) & 0xff) | ((data(blk + 1) & 0xff) << 8)).toShort)
            val dmin = Safetensors.halfToFloat(
              ((data(blk + 2) & 0xff) | ((data(blk + 3) & 0xff) << 8)).toShort)
            val e = i % 256
            val sub = e / 32
            val (sc, m) = scaleMinK4(data, blk + 4, sub)
            val chunk = e / 64
            val l = e % 64
            val qb = data(blk + 48 + chunk * 32 + l % 32) & 0xff
            val lo = if (l < 32) qb & 0x0f else qb >> 4
            val hbit = (data(blk + 16 + l % 32) >> (2 * chunk + (if (l < 32) 0 else 1))) & 1
            out(i) = d * sc * (lo + (hbit << 4)) - dmin * m
            i += 1
          }
        case 14 =>
          // Q6_K super-block (ggml block_q6_K): 128 ql (low 4 bits),
          // 64 qh (two high bits per element), 16 signed int8 sub-block
          // scales, f16 d; per 128-element half, element n+l / n+l+32 /
          // n+l+64 / n+l+96 take qh bits 0-1/2-3/4-5/6-7 of qh[l];
          // x = d * scales[e/16] * (q - 32)
          while (i < n) {
            val blk = t.offset.toInt + (i / 256) * 210
            val d = Safetensors.halfToFloat(
              ((data(blk + 208) & 0xff) | ((data(blk + 209) & 0xff) << 8)).toShort)
            val e = i % 256
            val half = e / 128 // 0 or 1
            val r = e % 128 // position within the half
            val quarter = r / 32 // 0..3 -> which qh bit pair / ql nibble
            val l = r % 32
            val ql = data(blk + half * 64 + (if (quarter % 2 == 0) l else l + 32)) & 0xff
            val lo = if (quarter < 2) ql & 0x0f else ql >> 4
            val qh = data(blk + 128 + half * 32 + l) & 0xff
            val q = (lo | (((qh >> (2 * quarter)) & 3) << 4)) - 32
            val sc = data(blk + 192 + (e / 16)).toInt // signed int8
            out(i) = d * sc * q
            i += 1
          }
        case t2 => throw new Refusal("unsupported", s"ggml tensor type $t2")
      }
      out
    }
  }

  /** ggml get_scale_min_k4: 6-bit scale/min pair `j` (0..7) from the 12
    * packed bytes at `off`.
    */
  private def scaleMinK4(data: Array[Byte], off: Int, j: Int): (Int, Int) = {
    def q(k: Int): Int = data(off + k) & 0xff
    if (j < 4) (q(j) & 63, q(j + 4) & 63)
    else ((q(j + 4) & 0x0f) | ((q(j - 4) >> 6) << 4),
      (q(j + 4) >> 4) | ((q(j) >> 6) << 4))
  }

  // -------------------------------------------------------------- read --

  private final class Reader(b: Array[Byte]) {
    var pos = 0
    def need(n: Long): Unit =
      if (n < 0 || pos.toLong + n > b.length)
        throw new Refusal("truncated", s"need $n at $pos of ${b.length}")
    def u32(): Long = {
      need(4)
      val v = (b(pos) & 0xffL) | ((b(pos + 1) & 0xffL) << 8) |
        ((b(pos + 2) & 0xffL) << 16) | ((b(pos + 3) & 0xffL) << 24)
      pos += 4
      v
    }
    def u64(): Long = {
      need(8)
      var v = 0L
      var i = 0
      while (i < 8) { v |= (b(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8
      v
    }
    def bytes(n: Int): Array[Byte] = {
      need(n)
      val a = java.util.Arrays.copyOfRange(b, pos, pos + n)
      pos += n
      a
    }
    def str(): String = {
      val n = u64()
      // u64 >= 2^63 reads as a negative Long — the < 0 arm is load-bearing
      if (n < 0 || n > (1L << 20)) bad(s"string length $n")
      new String(bytes(n.toInt), java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  private def readValue(r: Reader, tpe: Long, depth: Int): MetaVal = {
    if (depth > 4) bad("metadata nesting past 4")
    def u16(): Int = {
      val b = r.bytes(2)
      (b(0) & 0xff) | ((b(1) & 0xff) << 8)
    }
    tpe match {
      case 0 => MInt(r.bytes(1)(0) & 0xffL) // uint8
      case 1 => MInt(r.bytes(1)(0).toLong) // int8
      case 2 => MInt(u16().toLong) // uint16
      case 3 => MInt(u16().toShort.toLong) // int16
      case 4 => MInt(r.u32()) // uint32
      case 5 => MInt(r.u32().toInt.toLong) // int32
      case 6 => MFloat(java.lang.Float.intBitsToFloat(r.u32().toInt).toDouble)
      case 7 =>
        val v = r.bytes(1)(0) & 0xff
        if (v > 1) bad(s"bool value $v")
        MBool(v == 1)
      case 8 => MString(r.str())
      case 9 =>
        val et = r.u32()
        if (et == 9) bad("nested metadata arrays")
        val n = r.u64()
        if (n < 0 || n > (1L << 20))
          throw new Refusal("too_large", s"metadata array of $n")
        MArray(Vector.fill(n.toInt)(readValue(r, et, depth + 1)))
      case 10 => MInt(r.u64()) // uint64 (may wrap negative past 2^63 — callers treat as raw bits)
      case 11 => MInt(r.u64()) // int64
      case 12 => MFloat(java.lang.Double.longBitsToDouble(r.u64()))
      case other => throw new Refusal("unsupported", s"metadata value type $other")
    }
  }

  def read(bytes: Array[Byte]): Model = {
    val r = new Reader(bytes)
    if (bytes.length < 4 || bytes(0) != 'G' || bytes(1) != 'G' ||
        bytes(2) != 'U' || bytes(3) != 'F')
      throw new Refusal("bad_magic", "no GGUF magic")
    r.pos = 4
    val version = r.u32()
    if (version != 3) throw new Refusal("unsupported", s"GGUF version $version")
    val nTensors = r.u64()
    val nKv = r.u64()
    if (nTensors < 0 || nTensors > (1L << 20)) bad(s"tensor count $nTensors")
    if (nKv < 0 || nKv > (1L << 20)) bad(s"metadata count $nKv")
    val kvs = Vector.fill(nKv.toInt) {
      val k = r.str()
      val tpe = r.u32()
      k -> readValue(r, tpe, 0)
    }
    val alignment = kvs.collectFirst {
      case ("general.alignment", MInt(a)) => a
    }.getOrElse(32L)
    if (alignment < 1 || alignment > (1L << 20) ||
        java.lang.Long.bitCount(alignment) != 1)
      bad(s"alignment $alignment")
    val infos = Vector.fill(nTensors.toInt) {
      val name = r.str()
      val nDims = r.u32()
      if (nDims < 1 || nDims > 8) bad(s"$name: $nDims dims")
      val dims = Vector.fill(nDims.toInt) {
        val d = r.u64()
        if (d < 1 || d > Int.MaxValue) bad(s"$name: dim $d")
        d
      }
      val tpe = r.u32()
      val off = r.u64()
      TensorInfo(name, dims, tpe.toInt, off)
    }
    if (infos.map(_.name).distinct.size != infos.size) bad("duplicate tensor names")
    val dataStart = {
      val p = r.pos.toLong
      ((p + alignment - 1) / alignment) * alignment
    }
    if (dataStart > bytes.length) throw new Refusal("truncated", "no data section")
    val dataLen = bytes.length - dataStart
    // monotone, overlap-free, aligned, in-bounds regions; the gap before
    // each tensor may only be alignment padding
    var expected = 0L
    var total = 0L
    infos.foreach { t =>
      if (t.offset % alignment != 0) bad(s"${t.name}: unaligned offset ${t.offset}")
      if (t.offset < expected) bad(s"${t.name}: overlapping region")
      if (t.offset - expected >= alignment) bad(s"${t.name}: oversized gap")
      val sz = t.byteSize
      if (t.offset + sz > dataLen) throw new Refusal("truncated",
        s"${t.name}: [${t.offset}, ${t.offset + sz}) past data section $dataLen")
      total += sz
      if (total > graft.core.Budget.maxInflatedBytes)
        throw new Refusal("too_large", s"tensors declare $total bytes past the budget")
      expected = t.offset + sz
    }
    if (dataLen - expected >= alignment) bad("trailing garbage after the last tensor")
    Model(kvs, infos, java.util.Arrays.copyOfRange(
      bytes, dataStart.toInt, bytes.length), alignment.toInt)
  }

  def readSafe(bytes: Array[Byte]): Either[String, Model] =
    Refusal.attempt(read(bytes), "bad_frame")

  // ------------------------------------------------------------- write --

  /** Tensor payloads the writer accepts. Q8 carries the f16 scale per
    * 32-element block as raw bits so the emitted bytes are caller-chosen
    * exactly (no float-rounding ambiguity in fixtures or checksums).
    */
  sealed trait TensorData
  final case class F32(v: Array[Float]) extends TensorData
  final case class F16(v: Array[Short]) extends TensorData
  final case class Q8(scaleBits: Array[Short], quants: Array[Byte]) extends TensorData
  /** Q4_0: quants are UNPACKED 4-bit values in [0, 15] (x = d*(q-8)),
    * 32 per block; the writer packs element j with element j+16.
    */
  final case class Q4(scaleBits: Array[Short], quants: Array[Byte]) extends TensorData
  /** Q4_K: per 256-element super-block one f16 d + one f16 dmin (raw
    * bits), 8 unpacked 6-bit sub-block scales and mins, and 256 unpacked
    * 4-bit quants (x = d*sc*q - dmin*m); the writer packs the 12-byte
    * scale field (get_scale_min_k4 inverse) and the nibble layout.
    */
  final case class Q4K(dBits: Array[Short], dminBits: Array[Short],
      scales: Array[Byte], mins: Array[Byte], quants: Array[Byte]) extends TensorData
  /** Q5_K: like Q4_K but with unpacked 5-bit quants in [0, 31]
    * (x = d*sc*q - dmin*m); the writer packs the nibble layout plus the
    * qh fifth-bit table.
    */
  final case class Q5K(dBits: Array[Short], dminBits: Array[Short],
      scales: Array[Byte], mins: Array[Byte], quants: Array[Byte]) extends TensorData
  /** Q6_K: per super-block one f16 d (raw bits), 16 signed int8 sub-block
    * scales, and 256 unpacked 6-bit codes in [0, 63] (x = d*sc*(code-32));
    * the writer packs ql/qh.
    */
  final case class Q6K(dBits: Array[Short], scales: Array[Byte],
      quants: Array[Byte]) extends TensorData

  /** F32/F16-only convenience shape kept for existing callers. */
  def write(metadata: Seq[(String, MetaVal)],
      tensors: Seq[(String, Vector[Long], Either[Array[Float], Array[Short]])],
      alignment: Int = 32): Array[Byte] =
    writeTensors(metadata,
      tensors.map { case (n, d, p) => (n, d, p.fold(F32.apply, F16.apply)) },
      alignment)

  /** Deterministic GGUF v3 writer: string/int/float/bool/array metadata,
    * F32/F16/Q8_0 tensors laid out in order with alignment padding.
    */
  def writeTensors(metadata: Seq[(String, MetaVal)],
      tensors: Seq[(String, Vector[Long], TensorData)],
      alignment: Int = 32): Array[Byte] = {
    require(alignment >= 1 && Integer.bitCount(alignment) == 1, "alignment")
    val out = new java.io.ByteArrayOutputStream(4096)
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    def u64(v: Long): Unit = { u32(v & 0xffffffffL); u32((v >>> 32) & 0xffffffffL) }
    def str(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      u64(b.length.toLong)
      out.write(b, 0, b.length)
    }
    def value(v: MetaVal): Unit = v match {
      case MString(s) => u32(8); str(s)
      case MInt(x) => u32(11); u64(x) // int64
      case MFloat(x) => u32(12); u64(java.lang.Double.doubleToLongBits(x))
      case MBool(b) => u32(7); out.write(if (b) 1 else 0)
      case MArray(items) =>
        u32(9)
        val et = items.headOption match {
          case Some(MString(_)) => 8L
          case Some(MInt(_)) => 11L
          case Some(MFloat(_)) => 12L
          case Some(MBool(_)) => 7L
          case _ => 11L
        }
        // heterogeneous arrays would serialize each item per its runtime
        // type under a single declared element type — corrupt GGUF
        require(items.forall {
          case MString(_) => et == 8L
          case MInt(_) => et == 11L
          case MFloat(_) => et == 12L
          case MBool(_) => et == 7L
          case MArray(_) => false
        }, "metadata array items must share one type")
        u32(et)
        u64(items.length.toLong)
        items.foreach {
          case MString(s) => str(s)
          case MInt(x) => u64(x)
          case MFloat(x) => u64(java.lang.Double.doubleToLongBits(x))
          case MBool(b) => out.write(if (b) 1 else 0)
          case MArray(_) => throw new IllegalArgumentException("nested arrays unsupported")
        }
    }
    // the writer owns general.alignment; a caller copy would emit duplicate
    // keys (malformed GGUF) that can disagree with the layout actually used
    require(!metadata.exists(_._1 == "general.alignment"),
      "pass alignment via the alignment parameter, not metadata")
    out.write("GGUF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    u32(3)
    u64(tensors.length.toLong)
    u64((metadata.length + 1).toLong)
    str("general.alignment"); u32(4); u32(alignment.toLong) // uint32 kv
    metadata.foreach { case (k, v) => str(k); value(v) }
    var off = 0L
    tensors.foreach { case (name, dims, payload) =>
      val (tpe, sz) = payload match {
        case F32(f) =>
          require(f.length.toLong == dims.product, s"$name: f32 size"); (0, f.length.toLong * 4)
        case F16(h) =>
          require(h.length.toLong == dims.product, s"$name: f16 size"); (1, h.length.toLong * 2)
        case Q8(sc, q) =>
          require(dims.head % 32 == 0, s"$name: Q8_0 row ${dims.head} not a multiple of 32")
          require(q.length.toLong == dims.product, s"$name: q8 size")
          require(sc.length.toLong * 32 == q.length.toLong, s"$name: q8 scale count")
          (8, sc.length.toLong * 34)
        case Q4(sc, q) =>
          require(dims.head % 32 == 0, s"$name: Q4_0 row ${dims.head} not a multiple of 32")
          require(q.length.toLong == dims.product, s"$name: q4 size")
          require(sc.length.toLong * 32 == q.length.toLong, s"$name: q4 scale count")
          require(q.forall(b => b >= 0 && b <= 15), s"$name: q4 quant out of [0,15]")
          (2, sc.length.toLong * 18)
        case Q4K(d, dmin, sc, mn, q) =>
          require(dims.head % 256 == 0, s"$name: Q4_K row ${dims.head} not a multiple of 256")
          require(q.length.toLong == dims.product, s"$name: q4k size")
          require(d.length.toLong * 256 == q.length.toLong &&
            dmin.length == d.length, s"$name: q4k block count")
          require(sc.length == d.length * 8 && mn.length == sc.length,
            s"$name: q4k sub-scale count")
          require(q.forall(b => b >= 0 && b <= 15), s"$name: q4k quant out of [0,15]")
          require(sc.forall(b => b >= 0 && b <= 63) &&
            mn.forall(b => b >= 0 && b <= 63), s"$name: q4k scale/min out of [0,63]")
          (12, d.length.toLong * 144)
        case Q5K(d, dmin, sc, mn, q) =>
          require(dims.head % 256 == 0, s"$name: Q5_K row ${dims.head} not a multiple of 256")
          require(q.length.toLong == dims.product, s"$name: q5k size")
          require(d.length.toLong * 256 == q.length.toLong &&
            dmin.length == d.length, s"$name: q5k block count")
          require(sc.length == d.length * 8 && mn.length == sc.length,
            s"$name: q5k sub-scale count")
          require(q.forall(b => b >= 0 && b <= 31), s"$name: q5k quant out of [0,31]")
          require(sc.forall(b => b >= 0 && b <= 63) &&
            mn.forall(b => b >= 0 && b <= 63), s"$name: q5k scale/min out of [0,63]")
          (13, d.length.toLong * 176)
        case Q6K(d, sc, q) =>
          require(dims.head % 256 == 0, s"$name: Q6_K row ${dims.head} not a multiple of 256")
          require(q.length.toLong == dims.product, s"$name: q6k size")
          require(d.length.toLong * 256 == q.length.toLong, s"$name: q6k block count")
          require(sc.length == d.length * 16, s"$name: q6k sub-scale count")
          require(q.forall(b => b >= 0 && b <= 63), s"$name: q6k code out of [0,63]")
          (14, d.length.toLong * 210)
      }
      str(name)
      u32(dims.length.toLong)
      dims.foreach(u64)
      u32(tpe.toLong)
      u64(off)
      off += ((sz + alignment - 1) / alignment) * alignment
    }
    while (out.size() % alignment != 0) out.write(0)
    tensors.foreach { case (_, _, payload) =>
      val before = out.size()
      payload match {
        case F32(f) => f.foreach(x => u32(java.lang.Float.floatToIntBits(x).toLong & 0xffffffffL))
        case F16(h) => h.foreach { s =>
          out.write(s & 0xff); out.write((s >> 8) & 0xff)
        }
        case Q8(sc, q) =>
          var b = 0
          while (b < sc.length) {
            out.write(sc(b) & 0xff); out.write((sc(b) >> 8) & 0xff)
            out.write(q, b * 32, 32)
            b += 1
          }
        case Q4(sc, q) =>
          var b = 0
          while (b < sc.length) {
            out.write(sc(b) & 0xff); out.write((sc(b) >> 8) & 0xff)
            var j = 0
            while (j < 16) {
              out.write((q(b * 32 + j) & 0x0f) | ((q(b * 32 + 16 + j) & 0x0f) << 4))
              j += 1
            }
            b += 1
          }
        case Q4K(d, dmin, sc, mn, q) =>
          var b = 0
          while (b < d.length) {
            out.write(d(b) & 0xff); out.write((d(b) >> 8) & 0xff)
            out.write(dmin(b) & 0xff); out.write((dmin(b) >> 8) & 0xff)
            // 12-byte packed scales: bytes 0-3 carry sc[0..3] low-6 plus
            // sc[4..7] bits 4-5 in the top 2; bytes 4-7 the same for
            // mins; bytes 8-11 sc[4..7] low-4 | mins[4..7] low-4 << 4
            // (the exact inverse of ggml get_scale_min_k4)
            var j = 0
            while (j < 4) {
              out.write((sc(b * 8 + j) & 63) | (((sc(b * 8 + 4 + j) >> 4) & 3) << 6))
              j += 1
            }
            j = 0
            while (j < 4) {
              out.write((mn(b * 8 + j) & 63) | (((mn(b * 8 + 4 + j) >> 4) & 3) << 6))
              j += 1
            }
            j = 0
            while (j < 4) {
              out.write((sc(b * 8 + 4 + j) & 0x0f) | ((mn(b * 8 + 4 + j) & 0x0f) << 4))
              j += 1
            }
            // nibble layout: per 64-element chunk, qs[l] = elem l | elem l+32 << 4
            var c = 0
            while (c < 4) {
              val base = b * 256 + c * 64
              var l = 0
              while (l < 32) {
                out.write((q(base + l) & 0x0f) | ((q(base + 32 + l) & 0x0f) << 4))
                l += 1
              }
              c += 1
            }
            b += 1
          }
        case Q5K(d, dmin, sc, mn, q) =>
          var b = 0
          while (b < d.length) {
            out.write(d(b) & 0xff); out.write((d(b) >> 8) & 0xff)
            out.write(dmin(b) & 0xff); out.write((dmin(b) >> 8) & 0xff)
            var j = 0
            while (j < 4) {
              out.write((sc(b * 8 + j) & 63) | (((sc(b * 8 + 4 + j) >> 4) & 3) << 6))
              j += 1
            }
            j = 0
            while (j < 4) {
              out.write((mn(b * 8 + j) & 63) | (((mn(b * 8 + 4 + j) >> 4) & 3) << 6))
              j += 1
            }
            j = 0
            while (j < 4) {
              out.write((sc(b * 8 + 4 + j) & 0x0f) | ((mn(b * 8 + 4 + j) & 0x0f) << 4))
              j += 1
            }
            // qh: bit pair 2c (low-nibble elem) / 2c+1 (high-nibble elem)
            // of qh[l] carries chunk c's fifth bits
            var l = 0
            while (l < 32) {
              var h = 0
              var c = 0
              while (c < 4) {
                val base = b * 256 + c * 64
                h |= ((q(base + l) >> 4) & 1) << (2 * c)
                h |= ((q(base + 32 + l) >> 4) & 1) << (2 * c + 1)
                c += 1
              }
              out.write(h)
              l += 1
            }
            var c = 0
            while (c < 4) {
              val base = b * 256 + c * 64
              l = 0
              while (l < 32) {
                out.write((q(base + l) & 0x0f) | ((q(base + 32 + l) & 0x0f) << 4))
                l += 1
              }
              c += 1
            }
            b += 1
          }
        case Q6K(d, sc, q) =>
          var b = 0
          while (b < d.length) {
            // per 128-element half: ql[l] = c1 low4 | c3 low4 << 4,
            // ql[l+32] = c2 | c4 high nibbles likewise; qh[l] packs the
            // four elements' two high bits at bit pairs 0/2/4/6
            var half = 0
            while (half < 2) {
              val base = b * 256 + half * 128
              var l = 0
              while (l < 32) {
                out.write((q(base + l) & 0x0f) | ((q(base + 64 + l) & 0x0f) << 4))
                l += 1
              }
              l = 0
              while (l < 32) {
                out.write((q(base + 32 + l) & 0x0f) | ((q(base + 96 + l) & 0x0f) << 4))
                l += 1
              }
              half += 1
            }
            half = 0
            while (half < 2) {
              val base = b * 256 + half * 128
              var l = 0
              while (l < 32) {
                out.write(((q(base + l) >> 4) & 3) | (((q(base + 32 + l) >> 4) & 3) << 2) |
                  (((q(base + 64 + l) >> 4) & 3) << 4) | (((q(base + 96 + l) >> 4) & 3) << 6))
                l += 1
              }
              half += 1
            }
            out.write(sc, b * 16, 16)
            out.write(d(b) & 0xff); out.write((d(b) >> 8) & 0xff)
            b += 1
          }
      }
      while ((out.size() - before) % alignment != 0) out.write(0)
    }
    out.toByteArray
  }
}
