package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import graft.core.Refusal

/** Arrow IPC *stream* format — the zero-copy interchange container a
  * training stack consumes (pyarrow/torch dataloaders, DuckDB, Polars
  * all speak it natively): encapsulated messages of
  * `0xFFFFFFFF continuation | int32 metadata length | flatbuffer
  * Message | 8-aligned body`, ending in a `0xFFFFFFFF 00000000` EOS.
  * Written against the PUBLIC specs only — the Arrow columnar/IPC spec
  * (Schema.fbs / Message.fbs field ids, validity bitmaps, offset
  * buffers, pre-order buffer layout) and the flatbuffers internals
  * documentation (vtables, back-to-front building) — with the reader
  * pinned bit-exact against REAL pyarrow stream files
  * (tools/make_arrow_fixture.py, ArrowIpcSpec).
  *
  * Supported column types: int32/int64, float32/float64, bool, utf8,
  * list<float32> — each with validity bitmaps (nulls) at both the
  * column and list-element level. Everything else refuses with a typed
  * kind (`unsupported_type`, `unsupported_dictionary`,
  * `unsupported_compression`, `unsupported_endianness`) rather than
  * misreading; stream rot refuses `bad_stream` / `truncated`; declared
  * body sizes are capped by [[graft.core.Budget.maxInflatedBytes]]
  * BEFORE any allocation (`too_large`).
  *
  * Scale shape: one stream = one shard built/parsed inside a per-group
  * map — the tar01/avro01/npy01 contract (per-file parallelism, no
  * shuffle until the caller's aggregate).
  */
object ArrowIpc {

  // ------------------------------------------------------------ model --

  /** One decoded column. `valid` is null when the column has no nulls. */
  sealed trait ACol {
    def name: String
    def valid: Array[Boolean]
    def size: Int
    final def isNull(i: Int): Boolean = valid != null && !valid(i)
  }
  final case class ALongCol(name: String, valid: Array[Boolean], v: Array[Long]) extends ACol { def size = v.length }
  final case class AIntCol(name: String, valid: Array[Boolean], v: Array[Int]) extends ACol { def size = v.length }
  final case class ADoubleCol(name: String, valid: Array[Boolean], v: Array[Double]) extends ACol { def size = v.length }
  final case class AFloatCol(name: String, valid: Array[Boolean], v: Array[Float]) extends ACol { def size = v.length }
  final case class ABoolCol(name: String, valid: Array[Boolean], v: Array[Boolean]) extends ACol { def size = v.length }
  final case class AStrCol(name: String, valid: Array[Boolean], v: Array[String]) extends ACol { def size = v.length }
  /** list<float32>; `elemNull(i)` is null when list i has no null elements. */
  final case class AFloatListCol(name: String, valid: Array[Boolean],
      v: Array[Array[Float]], elemNull: Array[Array[Boolean]]) extends ACol { def size = v.length }
  /** list<float64> — the full-precision twin (reconstructed vectors,
    * scores); element nulls unsupported here (refuse on read).
    */
  final case class ADoubleListCol(name: String, valid: Array[Boolean],
      v: Array[Array[Double]]) extends ACol { def size = v.length }

  final case class Batch(nRows: Int, cols: Vector[ACol])

  /** Strict UTF-8: invalid sequences refuse instead of silently decoding
    * to replacement characters (pyarrow validates utf8 the same way;
    * round-15 parity — a flipped name/value byte must not silently morph).
    */
  private def utf8Strict(b: Array[Byte], off: Int, len: Int, what: String): String = {
    val dec = UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try dec.decode(java.nio.ByteBuffer.wrap(b, off, len)).toString
    catch {
      case _: java.nio.charset.CharacterCodingException =>
        fail("bad_stream", s"invalid UTF-8 in $what")
    }
  }

  private def fail(kind: String, msg: String): Nothing =
    throw new Refusal(kind, s"$kind: $msg")

  // --------------------------------------------- flatbuffers (reading) --

  /** Minimal flatbuffer accessor over the metadata slice. Table fields
    * resolve through the vtable (0 = absent → caller supplies default).
    */
  private final class Fb(b: Array[Byte], off: Int, len: Int) {
    private def ck(o: Int, n: Int): Int = {
      // Long math: a mutated length can make o + n wrap Int and sneak past
      if (o < 0 || n < 0 || o.toLong + n > len)
        fail("bad_stream", s"flatbuffer offset $o+$n outside $len")
      off + o
    }
    def u8(o: Int): Int = b(ck(o, 1)) & 0xff
    def i16(o: Int): Int = { val p = ck(o, 2); ((b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)).toShort.toInt }
    def u16(o: Int): Int = { val p = ck(o, 2); (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) }
    def i32(o: Int): Int = { val p = ck(o, 4)
      (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24) }
    def i64(o: Int): Long = (i32(o) & 0xffffffffL) | (i32(o + 4).toLong << 32)
    def root: Int = i32(0)
    /** absolute-in-slice position of field `id`'s data, or -1 if absent */
    def field(table: Int, id: Int): Int = {
      val vt = table - i32(table)
      val vtSize = u16(vt)
      val fo = 4 + id * 2
      if (fo + 2 > vtSize) -1
      else {
        val o = u16(vt + fo)
        if (o == 0) -1 else table + o
      }
    }
    def indirect(o: Int): Int = o + i32(o)
    def str(o: Int): String = {
      val p = indirect(o); val n = i32(p)
      utf8Strict(b, ck(p + 4, n), n, "metadata string")
    }
    def vecLen(o: Int): Int = i32(indirect(o))
    def vecPos(o: Int): Int = indirect(o) + 4
    /** (count, elementsPos) with the count BOUNDS-CHECKED against the
      * metadata slice — a mutated count otherwise drives giant
      * allocations before any per-element read can fail
      */
    def vec(o: Int, elemSize: Int): (Int, Int) = {
      val p = indirect(o)
      val n = i32(p)
      if (n < 0 || p + 4 + n.toLong * elemSize > len)
        fail("bad_stream", s"vector $n x $elemSize outside $len")
      (n, p + 4)
    }
  }

  // -------------------------------------------- flatbuffers (building) --

  /** Minimal back-to-front flatbuffer builder (vtable per table, no
    * dedup — slightly larger metadata, identical semantics).
    */
  private final class FbBuilder {
    private var buf = new Array[Byte](1024)
    private var head = buf.length
    private var minalign = 4
    private def used: Int = buf.length - head
    private def grow(need: Int): Unit =
      if (head < need) {
        val nb = new Array[Byte](buf.length * 2 + need)
        System.arraycopy(buf, head, nb, nb.length - used, used)
        head = nb.length - used
        buf = nb
      }
    private def prep(align: Int, additional: Int): Unit = {
      if (align > minalign) minalign = align
      var pad = ((~(used + additional)) + 1) & (align - 1)
      grow(pad + align + additional)
      while (pad > 0) { head -= 1; buf(head) = 0; pad -= 1 }
    }
    def pushByte(v: Int): Unit = { prep(1, 0); head -= 1; buf(head) = v.toByte }
    def pushI16(v: Int): Unit = { prep(2, 0); head -= 2
      buf(head) = (v & 0xff).toByte; buf(head + 1) = ((v >> 8) & 0xff).toByte }
    private def rawI32(v: Int): Unit = { head -= 4
      buf(head) = (v & 0xff).toByte; buf(head + 1) = ((v >> 8) & 0xff).toByte
      buf(head + 2) = ((v >> 16) & 0xff).toByte; buf(head + 3) = ((v >> 24) & 0xff).toByte }
    def pushI32(v: Int): Unit = { prep(4, 0); rawI32(v) }
    def pushI64(v: Long): Unit = { prep(8, 0)
      rawI32((v >>> 32).toInt); rawI32(v.toInt) }
    /** push a uoffset pointing at an object previously built at `o` */
    def pushRef(o: Int): Unit = { prep(4, 0); rawI32(used + 4 - o) }
    def createString(s: String): Int = {
      val bs = s.getBytes(UTF_8)
      pushByte(0) // nul terminator
      prep(4, bs.length)
      head -= bs.length
      System.arraycopy(bs, 0, buf, head, bs.length)
      rawI32(bs.length) // length prefix lands below the bytes (lowest abs)
      used
    }
    /** begin a vector of `count` elems of `elemSize` (structs included);
      * elements are then pushed LAST-first; endVector writes the count.
      * The double prep pre-establishes element alignment so no padding
      * can appear BETWEEN elements (which would corrupt indexing).
      */
    def startVector(elemSize: Int, count: Int, align: Int): Unit = {
      prep(4, elemSize * count)
      prep(align, elemSize * count)
    }
    def endVector(count: Int): Int = { pushI32(count); used }
    // table construction
    private var slots: Array[Int] = null
    private var objStart = 0
    def startTable(nFields: Int): Unit = { slots = new Array[Int](nFields); objStart = used }
    def slot(id: Int): Unit = slots(id) = used
    def slotByte(id: Int, v: Int): Unit = { pushByte(v); slot(id) }
    def slotI16(id: Int, v: Int): Unit = { pushI16(v); slot(id) }
    def slotI32(id: Int, v: Int): Unit = { pushI32(v); slot(id) }
    def slotI64(id: Int, v: Long): Unit = { pushI64(v); slot(id) }
    def slotRef(id: Int, o: Int): Unit = { pushRef(o); slot(id) }
    def endTable(): Int = {
      pushI32(0) // soffset placeholder
      val tableOff = used
      val tableSize = tableOff - objStart
      // vtable entries, last field first (building backward)
      var i = slots.length - 1
      while (i >= 0) {
        pushI16(if (slots(i) == 0) 0 else tableOff - slots(i))
        i -= 1
      }
      pushI16(tableSize)
      pushI16(4 + slots.length * 2)
      val vtOff = used
      // patch the soffset: vtable is AT LOWER abs than table start here,
      // soffset = table_abs - vt_abs = vtOff - tableOff... sign per spec:
      // vtable_pos = table_pos - soffset, so soffset = vtOff - tableOff
      val p = buf.length - tableOff
      val so = vtOff - tableOff
      buf(p) = (so & 0xff).toByte; buf(p + 1) = ((so >> 8) & 0xff).toByte
      buf(p + 2) = ((so >> 16) & 0xff).toByte; buf(p + 3) = ((so >> 24) & 0xff).toByte
      slots = null
      tableOff
    }
    def finish(root: Int): Array[Byte] = {
      prep(minalign, 4)
      pushRef(root)
      java.util.Arrays.copyOfRange(buf, head, buf.length)
    }
  }

  // ------------------------------------------------------------ schema --

  /** Internal field model (what we read/write). */
  final case class AField(name: String, typ: String, nullable: Boolean)
  // typ ∈ i32 i64 f32 f64 bool utf8 list<f32>

  // MessageHeader union ids
  private val HSchema = 1
  private val HDict = 2
  private val HBatch = 3
  // Type union ids (Schema.fbs order)
  private val TInt = 2
  private val TFloat = 3
  private val TUtf8 = 5
  private val TBool = 6
  private val TList = 12

  // ------------------------------------------------------------- read --

  def read(bytes: Array[Byte]): Vector[Batch] = {
    var pos = 0
    def le32(i: Int): Int = {
      if (i + 4 > bytes.length) fail("truncated", s"framing at $i")
      (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8) |
        ((bytes(i + 2) & 0xff) << 16) | ((bytes(i + 3) & 0xff) << 24)
    }
    var fields: Vector[AField] = null
    val out = Vector.newBuilder[Batch]
    var sawEos = false
    while (pos < bytes.length && !sawEos) {
      if (le32(pos) != 0xFFFFFFFF)
        fail("bad_stream", s"missing continuation marker at $pos")
      val metaLen = le32(pos + 4)
      if (metaLen == 0) { sawEos = true; pos += 8 }
      else {
        if (metaLen < 0 || pos + 8 + metaLen > bytes.length)
          fail("truncated", s"metadata $metaLen at $pos")
        // the IPC spec pads serialized metadata to 8 bytes; a non-aligned
        // length is a misframed message, not a short one
        if (metaLen % 8 != 0) fail("bad_stream", s"metadata length $metaLen unaligned")
        val fb = new Fb(bytes, pos + 8, metaLen)
        val msg = fb.root
        val hType = { val f = fb.field(msg, 1); if (f < 0) 0 else fb.u8(f) }
        val hOff = { val f = fb.field(msg, 2); if (f < 0) fail("bad_stream", "no header") else fb.indirect(f) }
        val bodyLen = { val f = fb.field(msg, 3); if (f < 0) 0L else fb.i64(f) }
        if (bodyLen < 0 || bodyLen > graft.core.Budget.maxInflatedBytes)
          fail("too_large", s"declared body $bodyLen")
        val bodyStart = pos + 8 + metaLen
        if (bodyStart + bodyLen > bytes.length)
          fail("truncated", s"body $bodyLen at $bodyStart")
        hType match {
          case HSchema =>
            if (bodyLen != 0L) fail("bad_stream", "schema message with a body")
            fields = parseSchema(fb, hOff)
          case HDict => fail("unsupported_dictionary", "dictionary batch")
          case HBatch =>
            if (fields == null) fail("bad_stream", "record batch before schema")
            out += parseBatch(fb, hOff, bytes, bodyStart, fields)
          case other => fail("bad_stream", s"unexpected header type $other")
        }
        pos = bodyStart + bodyLen.toInt
      }
    }
    if (!sawEos && pos >= bytes.length) fail("truncated", "no EOS marker")
    // a stream that ended without ever carrying a schema message is not an
    // Arrow stream that happened to be empty — it is a misframed walk
    // (round-15 pyarrow parity find: a mutated metaLen could swallow the
    // schema and land on bytes that read as a clean EOS)
    if (fields == null) fail("bad_stream", "no schema message")
    out.result()
  }

  def readSafe(bytes: Array[Byte]): Either[String, Vector[Batch]] =
    Refusal.attempt(read(bytes), "bad_stream")

  private def parseSchema(fb: Fb, sch: Int): Vector[AField] = {
    val endian = { val f = fb.field(sch, 0); if (f < 0) 0 else fb.i16(f) }
    if (endian != 0) fail("unsupported_endianness", s"endianness $endian")
    val fVecF = fb.field(sch, 1)
    // every real writer emits the fields vector (possibly empty); a
    // MISSING vector means a vtable slot got wrecked — refuse rather than
    // silently decode a zero-column stream (round-15 pyarrow parity find)
    if (fVecF < 0) fail("bad_schema", "schema without a fields vector")
    val (n, vp) = fb.vec(fVecF, 4)
    Vector.tabulate(n) { i =>
      val fld = fb.indirect(vp + i * 4)
      parseField(fb, fld, topLevel = true)
    }
  }

  private def parseField(fb: Fb, fld: Int, topLevel: Boolean): AField = {
    val name = { val f = fb.field(fld, 0); if (f < 0) "" else fb.str(f) }
    val nullable = { val f = fb.field(fld, 1); f >= 0 && fb.u8(f) != 0 }
    if (fb.field(fld, 4) >= 0) fail("unsupported_dictionary", s"field $name")
    val tType = { val f = fb.field(fld, 2); if (f < 0) 0 else fb.u8(f) }
    val tOff = { val f = fb.field(fld, 3); if (f < 0) -1 else fb.indirect(f) }
    val typ = tType match {
      case TInt =>
        val bw = { val f = fb.field(tOff, 0); if (f < 0) 0 else fb.i32(f) }
        val signed = { val f = fb.field(tOff, 1); f >= 0 && fb.u8(f) != 0 }
        if (!signed) fail("unsupported_type", s"unsigned int$bw ($name)")
        bw match {
          case 32 => "i32"
          case 64 => "i64"
          case o  => fail("unsupported_type", s"int$o ($name)")
        }
      case TFloat =>
        val prec = { val f = fb.field(tOff, 0); if (f < 0) 0 else fb.i16(f) }
        prec match {
          case 1 => "f32"
          case 2 => "f64"
          case o => fail("unsupported_type", s"float precision $o ($name)")
        }
      case TUtf8 => "utf8"
      case TBool => "bool"
      case TList =>
        if (!topLevel) fail("unsupported_type", s"nested list ($name)")
        val chF = fb.field(fld, 5)
        if (chF < 0 || fb.vecLen(chF) != 1) fail("unsupported_type", s"list arity ($name)")
        val child = parseField(fb, fb.indirect(fb.vecPos(chF)), topLevel = false)
        child.typ match {
          case "f32" => "list<f32>"
          case "f64" => "list<f64>"
          case o     => fail("unsupported_type", s"list<$o> ($name)")
        }
      case o => fail("unsupported_type", s"type union $o ($name)")
    }
    AField(name, typ, nullable)
  }

  private def parseBatch(fb: Fb, rb: Int, bytes: Array[Byte], bodyStart: Int,
      fields: Vector[AField]): Batch = {
    if (fb.field(rb, 3) >= 0) fail("unsupported_compression", "compressed body")
    val nRows0 = { val f = fb.field(rb, 0); if (f < 0) 0L else fb.i64(f) }
    if (nRows0 < 0 || nRows0 > Int.MaxValue) fail("bad_stream", s"batch length $nRows0")
    val nRows = nRows0.toInt
    val nodesF = fb.field(rb, 1)
    val bufsF = fb.field(rb, 2)
    if (nodesF < 0 || bufsF < 0) fail("bad_stream", "batch missing nodes/buffers")
    val (nNodes, nodesP) = fb.vec(nodesF, 16)
    val (nBufs, bufsP) = fb.vec(bufsF, 16)
    var node = 0
    var buf = 0
    def nextNode(): (Int, Long) = {
      if (node >= nNodes) fail("bad_stream", "node underflow")
      val p = nodesP + node * 16
      node += 1
      val len = fb.i64(p)
      if (len < 0 || len > Int.MaxValue) fail("bad_stream", s"node length $len")
      (len.toInt, fb.i64(p + 8))
    }
    def nextBuf(): (Int, Int) = {
      if (buf >= nBufs) fail("bad_stream", "buffer underflow")
      val p = bufsP + buf * 16
      buf += 1
      val off = fb.i64(p)
      val len = fb.i64(p + 8)
      if (off < 0 || len < 0 || off + len > bytes.length - bodyStart)
        fail("truncated", s"buffer ($off,$len) outside body")
      // the IPC spec 8-aligns every buffer; a shifted offset would read
      // values one byte off — silently wrong longs/doubles (round-15
      // pyarrow parity find: off-by-one offsets decoded 2^56-scaled ids)
      if (off % 8 != 0) fail("bad_stream", s"unaligned buffer offset $off")
      (bodyStart + off.toInt, len.toInt)
    }
    def readValidity(n: Int, nullCount: Long): Array[Boolean] = {
      val (o, len) = nextBuf()
      // nullCount > 0 with no validity bitmap would silently surface the
      // declared-null slots as real (garbage) values — refuse instead.
      if (nullCount > 0L && len == 0 && n > 0)
        fail("bad_stream", s"nullCount $nullCount with empty validity buffer")
      if (nullCount == 0L || len == 0) null
      else {
        if (len.toLong * 8 < n.toLong) fail("truncated", s"validity bitmap $len bytes for $n")
        Array.tabulate(n)(i => (bytes(o + (i >> 3)) & (1 << (i & 7))) != 0)
      }
    }
    val cols = fields.map { f =>
      val (n, nc) = nextNode()
      // every top-level array's length must equal the batch's row count
      // (child nodes — list items — have their own lengths); a lying node
      // grew a column past its siblings before (round-15 parity find)
      if (n != nRows) fail("bad_stream", s"${f.name}: node length $n != batch $nRows")
      val valid = readValidity(n, nc)
      f.typ match {
        case "i64" =>
          val (o, len) = nextBuf()
          if (len.toLong < n.toLong * 8) fail("truncated", s"i64 data ${f.name}")
          ALongCol(f.name, valid, Array.tabulate(n)(i => leL(bytes, o + i * 8)))
        case "i32" =>
          val (o, len) = nextBuf()
          if (len.toLong < n.toLong * 4) fail("truncated", s"i32 data ${f.name}")
          AIntCol(f.name, valid, Array.tabulate(n)(i => leI(bytes, o + i * 4)))
        case "f64" =>
          val (o, len) = nextBuf()
          if (len.toLong < n.toLong * 8) fail("truncated", s"f64 data ${f.name}")
          ADoubleCol(f.name, valid,
            Array.tabulate(n)(i => java.lang.Double.longBitsToDouble(leL(bytes, o + i * 8))))
        case "f32" =>
          val (o, len) = nextBuf()
          if (len.toLong < n.toLong * 4) fail("truncated", s"f32 data ${f.name}")
          AFloatCol(f.name, valid,
            Array.tabulate(n)(i => java.lang.Float.intBitsToFloat(leI(bytes, o + i * 4))))
        case "bool" =>
          val (o, len) = nextBuf()
          if (n > 0 && len.toLong * 8 < n.toLong) fail("truncated", s"bool data ${f.name}")
          ABoolCol(f.name, valid,
            Array.tabulate(n)(i => (bytes(o + (i >> 3)) & (1 << (i & 7))) != 0))
        case "utf8" =>
          val (oo, olen) = nextBuf()
          if (n > 0 && olen.toLong < (n.toLong + 1) * 4) fail("truncated", s"utf8 offsets ${f.name}")
          val (od, dlen) = nextBuf()
          AStrCol(f.name, valid, Array.tabulate(n) { i =>
            if (valid != null && !valid(i)) null
            else {
              val a = leI(bytes, oo + i * 4); val b = leI(bytes, oo + (i + 1) * 4)
              // b bounded by the DATA buffer's declared length (mirrors the
              // `b > cn` check in the list paths) — an end offset past the
              // utf8 data would silently decode adjacent buffers' bytes.
              if (a < 0 || b < a || b > dlen) fail("bad_stream", s"utf8 offsets ${f.name}")
              utf8Strict(bytes, od + a, b - a, s"utf8 column ${f.name}")
            }
          })
        case "list<f32>" =>
          val (oo, olen) = nextBuf()
          if (n > 0 && olen.toLong < (n.toLong + 1) * 4) fail("truncated", s"list offsets ${f.name}")
          val (cn, cnc) = nextNode()
          val cvalid = readValidity(cn, cnc)
          val (od, dlen) = nextBuf()
          if (dlen.toLong < cn.toLong * 4) fail("truncated", s"list data ${f.name}")
          val vs = new Array[Array[Float]](n)
          val en = if (cvalid == null) null else new Array[Array[Boolean]](n)
          var i = 0
          while (i < n) {
            if (valid != null && !valid(i)) { vs(i) = null }
            else {
              val a = leI(bytes, oo + i * 4); val b = leI(bytes, oo + (i + 1) * 4)
              if (a < 0 || b < a || b > cn) fail("bad_stream", s"list offsets ${f.name}")
              vs(i) = Array.tabulate(b - a)(j =>
                java.lang.Float.intBitsToFloat(leI(bytes, od + (a + j) * 4)))
              if (cvalid != null) en(i) = Array.tabulate(b - a)(j => !cvalid(a + j))
            }
            i += 1
          }
          AFloatListCol(f.name, valid, vs, en)
        case "list<f64>" =>
          val (oo, olen) = nextBuf()
          if (n > 0 && olen.toLong < (n.toLong + 1) * 4) fail("truncated", s"list offsets ${f.name}")
          val (cn, cnc) = nextNode()
          val cvalid = readValidity(cn, cnc)
          if (cvalid != null) fail("unsupported_type", s"f64 list element nulls ${f.name}")
          val (od, dlen) = nextBuf()
          if (dlen.toLong < cn.toLong * 8) fail("truncated", s"list data ${f.name}")
          val vs = new Array[Array[Double]](n)
          var i = 0
          while (i < n) {
            if (valid != null && !valid(i)) { vs(i) = null }
            else {
              val a = leI(bytes, oo + i * 4); val b = leI(bytes, oo + (i + 1) * 4)
              if (a < 0 || b < a || b > cn) fail("bad_stream", s"list offsets ${f.name}")
              vs(i) = Array.tabulate(b - a)(j =>
                java.lang.Double.longBitsToDouble(leL(bytes, od + (a + j) * 8)))
            }
            i += 1
          }
          ADoubleListCol(f.name, valid, vs)
        case o => fail("unsupported_type", o)
      }
    }
    Batch(nRows, cols)
  }

  private def leI(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  private def leL(b: Array[Byte], i: Int): Long =
    (leI(b, i) & 0xffffffffL) | (leI(b, i + 4).toLong << 32)

  // ------------------------------------------------------------- write --

  /** Serialize one stream: schema message, one RecordBatch per batch,
    * EOS. Buffers are 8-byte aligned; validity buffers are empty when a
    * column carries no nulls (the pyarrow convention).
    */
  def write(fields: Vector[AField], batches: Seq[Vector[ACol]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(4096)
    emitMessage(out, buildSchemaMeta(fields), Array.emptyByteArray)
    batches.foreach { cols =>
      require(cols.map(_.name) == fields.map(_.name), "column/field mismatch")
      val (meta, body) = buildBatch(fields, cols)
      emitMessage(out, meta, body)
    }
    // EOS
    out.write(Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0))
    out.toByteArray
  }

  private def emitMessage(out: java.io.ByteArrayOutputStream,
      meta: Array[Byte], body: Array[Byte]): Unit = {
    val padded = (meta.length + 7) & ~7
    out.write(Array[Byte](-1, -1, -1, -1))
    out.write(Array[Byte]((padded & 0xff).toByte, ((padded >> 8) & 0xff).toByte,
      ((padded >> 16) & 0xff).toByte, ((padded >> 24) & 0xff).toByte))
    out.write(meta)
    var p = meta.length
    while (p < padded) { out.write(0); p += 1 }
    out.write(body)
  }

  private def buildMessage(b: FbBuilder, headerType: Int, header: Int,
      bodyLen: Long): Array[Byte] = {
    b.startTable(4)
    b.slotI64(3, bodyLen)
    b.slotRef(2, header)
    b.slotByte(1, headerType)
    b.slotI16(0, 4) // MetadataVersion V5
    b.finish(b.endTable())
  }

  private def buildType(b: FbBuilder, typ: String): (Int, Int) = typ match {
    case "i32" | "i64" =>
      b.startTable(2)
      b.slotByte(1, 1) // is_signed
      b.slotI32(0, if (typ == "i32") 32 else 64)
      (TInt, b.endTable())
    case "f32" | "f64" =>
      b.startTable(1)
      b.slotI16(0, if (typ == "f32") 1 else 2)
      (TFloat, b.endTable())
    case "utf8" => b.startTable(0); (TUtf8, b.endTable())
    case "bool" => b.startTable(0); (TBool, b.endTable())
    case o      => throw new IllegalArgumentException(s"unwritable type $o")
  }

  private def buildField(b: FbBuilder, f: AField): Int = {
    val (childVec, tType, tOff) =
      if (f.typ == "list<f32>" || f.typ == "list<f64>") {
        val child = buildField(b,
          AField("item", if (f.typ == "list<f32>") "f32" else "f64", nullable = true))
        b.startVector(4, 1, 4)
        b.pushRef(child)
        val cv = b.endVector(1)
        b.startTable(0)
        val listT = b.endTable()
        (cv, TList, listT)
      } else {
        val (tt, to) = buildType(b, f.typ)
        (-1, tt, to)
      }
    val name = b.createString(f.name)
    b.startTable(6)
    if (childVec >= 0) b.slotRef(5, childVec)
    b.slotRef(3, tOff)
    b.slotByte(2, tType)
    b.slotByte(1, if (f.nullable) 1 else 0)
    b.slotRef(0, name)
    b.endTable()
  }

  private def buildSchemaMeta(fields: Vector[AField]): Array[Byte] = {
    val b = new FbBuilder
    val fOffs = fields.map(buildField(b, _))
    b.startVector(4, fOffs.length, 4)
    fOffs.reverseIterator.foreach(b.pushRef)
    val fv = b.endVector(fOffs.length)
    b.startTable(2)
    b.slotRef(1, fv)
    // endianness Little = 0 (default; written explicitly for clarity)
    b.slotI16(0, 0)
    val sch = b.endTable()
    buildMessage(b, HSchema, sch, 0L)
  }

  /** bitmap bytes (LSB-first), padded to 8 */
  private def bitmap(n: Int, bit: Int => Boolean): Array[Byte] = {
    val a = new Array[Byte](((n + 7) / 8 + 7) & ~7)
    var i = 0
    while (i < n) { if (bit(i)) a(i >> 3) = (a(i >> 3) | (1 << (i & 7))).toByte; i += 1 }
    a
  }

  private def buildBatch(fields: Vector[AField],
      cols: Vector[ACol]): (Array[Byte], Array[Byte]) = {
    val nRows = if (cols.isEmpty) 0 else cols.head.size
    val body = new java.io.ByteArrayOutputStream(4096)
    // (length, null_count) nodes and (offset, length) buffer descriptors
    val nodes = Vector.newBuilder[(Long, Long)]
    val bufs = Vector.newBuilder[(Long, Long)]
    def addBuf(data: Array[Byte]): Unit = {
      val off = body.size.toLong
      body.write(data)
      var pad = ((data.length + 7) & ~7) - data.length
      while (pad > 0) { body.write(0); pad -= 1 }
      bufs += ((off, data.length.toLong))
    }
    def addValidity(n: Int, valid: Array[Boolean]): Unit =
      if (valid == null) bufs += ((body.size.toLong, 0L))
      else addBuf(bitmap(n, i => valid(i)))
    def le32a(vs: Array[Int]): Array[Byte] = {
      val a = new Array[Byte](vs.length * 4)
      var i = 0
      while (i < vs.length) {
        val v = vs(i)
        a(i * 4) = (v & 0xff).toByte; a(i * 4 + 1) = ((v >> 8) & 0xff).toByte
        a(i * 4 + 2) = ((v >> 16) & 0xff).toByte; a(i * 4 + 3) = ((v >> 24) & 0xff).toByte
        i += 1
      }
      a
    }
    def le64a(vs: Array[Long]): Array[Byte] = {
      val a = new Array[Byte](vs.length * 8)
      var i = 0
      while (i < vs.length) {
        var v = vs(i); var j = 0
        while (j < 8) { a(i * 8 + j) = (v & 0xff).toByte; v >>>= 8; j += 1 }
        i += 1
      }
      a
    }
    cols.foreach { c =>
      val nc = if (c.valid == null) 0L else c.valid.count(!_).toLong
      nodes += ((c.size.toLong, nc))
      addValidity(c.size, c.valid)
      c match {
        case ALongCol(_, _, v)   => addBuf(le64a(v))
        case AIntCol(_, _, v)    => addBuf(le32a(v))
        case ADoubleCol(_, _, v) => addBuf(le64a(v.map(java.lang.Double.doubleToLongBits)))
        case AFloatCol(_, _, v)  => addBuf(le32a(v.map(java.lang.Float.floatToIntBits)))
        case ABoolCol(_, _, v)   => addBuf(bitmap(v.length, i => v(i)))
        case AStrCol(_, _, v) =>
          val offs = new Array[Int](v.length + 1)
          val data = new java.io.ByteArrayOutputStream()
          var i = 0
          while (i < v.length) {
            if (v(i) != null) data.write(v(i).getBytes(UTF_8))
            offs(i + 1) = data.size
            i += 1
          }
          addBuf(le32a(offs))
          addBuf(data.toByteArray)
        case AFloatListCol(_, _, v, elemNull) =>
          val offs = new Array[Int](v.length + 1)
          var cn = 0
          var i = 0
          while (i < v.length) {
            if (v(i) != null) cn += v(i).length
            offs(i + 1) = cn
            i += 1
          }
          addBuf(le32a(offs))
          // child node: validity + data
          val childValid: Array[Boolean] =
            if (elemNull == null) null
            else {
              val a = new Array[Boolean](cn)
              var k = 0
              var r = 0
              while (r < v.length) {
                if (v(r) != null) {
                  var j = 0
                  while (j < v(r).length) {
                    a(k) = elemNull(r) == null || !elemNull(r)(j); k += 1; j += 1
                  }
                }
                r += 1
              }
              if (a.forall(identity)) null else a
            }
          nodes += ((cn.toLong, if (childValid == null) 0L else childValid.count(!_).toLong))
          addValidity(cn, childValid)
          val flat = new Array[Float](cn)
          var k = 0
          i = 0
          while (i < v.length) {
            if (v(i) != null) { v(i).foreach { x => flat(k) = x; k += 1 } }
            i += 1
          }
          addBuf(le32a(flat.map(java.lang.Float.floatToIntBits)))
        case ADoubleListCol(_, _, v) =>
          val offs = new Array[Int](v.length + 1)
          var cn = 0
          var i = 0
          while (i < v.length) {
            if (v(i) != null) cn += v(i).length
            offs(i + 1) = cn
            i += 1
          }
          addBuf(le32a(offs))
          nodes += ((cn.toLong, 0L))
          bufs += ((body.size.toLong, 0L)) // child validity: no nulls
          val flat = new Array[Double](cn)
          var k = 0
          i = 0
          while (i < v.length) {
            if (v(i) != null) { v(i).foreach { x => flat(k) = x; k += 1 } }
            i += 1
          }
          addBuf(le64a(flat.map(java.lang.Double.doubleToLongBits)))
      }
    }
    val nodeV = nodes.result()
    val bufV = bufs.result()
    val b = new FbBuilder
    // buffers vector (16-byte structs), last-first
    b.startVector(16, bufV.length, 8)
    bufV.reverseIterator.foreach { case (o, l) => b.pushI64(l); b.pushI64(o) }
    val bv = b.endVector(bufV.length)
    b.startVector(16, nodeV.length, 8)
    nodeV.reverseIterator.foreach { case (n, nc) => b.pushI64(nc); b.pushI64(n) }
    val nv = b.endVector(nodeV.length)
    b.startTable(4)
    b.slotRef(2, bv)
    b.slotRef(1, nv)
    b.slotI64(0, nRows.toLong)
    val rb = b.endTable()
    (buildMessage(b, HBatch, rb, body.size.toLong), body.toByteArray)
  }
}
