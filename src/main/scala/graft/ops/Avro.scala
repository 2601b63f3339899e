package graft.ops

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{Deflater, Inflater}

import graft.core.Refusal
import graft.etl.{JArr, JObj, JStr, Json}

/** Avro object-container codec (Apache Avro 1.11 specification, binary
  * encoding + object container file layout) — the fourth shard container a
  * training pipeline meets (gzip members → WARC, USTAR → WebDataset, ZIP →
  * document dumps, Avro → the row-oriented interchange format data
  * platforms emit before columnar conversion). Pure JVM from the public
  * spec: zigzag-varint longs, length-prefixed UTF-8 strings/bytes,
  * little-endian IEEE doubles, `Obj\x01` magic, file-metadata map carrying
  * the writer schema JSON + codec name, sync-marker-framed blocks, and the
  * `deflate` codec as RAW RFC 1951 (no zlib wrapper — the spec's one
  * deviation from gzip-family framing).
  *
  * Contract matches [[Zip]]/[[Warc]]/[[Tar]]/[[Zstd]]: deterministic
  * writer (sync marker derived from the schema, not a random nonce, so
  * identical inputs yield identical shards), strict reader (every block's
  * record count must consume its data exactly; every sync marker checked;
  * inflate output capped by [[graft.core.Budget.maxInflatedBytes]]
  * mid-stream), and typed fail-stop refusals (`bad_magic` / `bad_meta` /
  * `bad_codec` / `bad_record` / `bad_sync` / `truncated` / `too_large`)
  * that the safe scans turn into one error row per rotten shard.
  *
  * Schema support covers flat records of the primitive types a document
  * shard needs: long, int, string, bytes, boolean, double, float. That is
  * a deliberate subset (no unions/arrays/maps/nested records): the corpus
  * tables this engine ships are flat, and a strict subset that REFUSES
  * what it cannot decode beats a partial parse that guesses.
  */
object Avro {

  private val Magic = Array[Byte]('O', 'b', 'j', 1)

  /** One writer schema: ordered (fieldName, type) pairs. A type is a
    * primitive name, or a primitive suffixed `?` for the nullable union
    * `["null", T]` (the ubiquitous real-world Avro optional-field form).
    */
  final case class Schema(name: String, fields: Vector[(String, String)]) {
    require(fields.nonEmpty, "empty record schema")
    def json: String = {
      val fs = fields.map { case (n, t) =>
        val tj =
          if (t.endsWith("?")) s"""["null",${Json.quote(t.dropRight(1))}]"""
          else Json.quote(t)
        s"""{"name":${Json.quote(n)},"type":$tj}"""
      }.mkString(",")
      s"""{"type":"record","name":${Json.quote(name)},"fields":[$fs]}"""
    }
  }

  private val PrimTypes =
    Set("long", "int", "string", "bytes", "boolean", "double", "float")

  private def typeOk(t: String): Boolean =
    PrimTypes(t) || (t.endsWith("?") && PrimTypes(t.dropRight(1)))

  /** Records are positional: `values(i)` matches `schema.fields(i)`.
    * Value runtime classes: Long, Int, String, Array[Byte], Boolean,
    * Double, Float.
    */
  final case class Record(values: Vector[Any])

  // ------------------------------------------------------------------
  // binary encoding (Avro spec "Binary Encoding" section)

  private def writeVarLong(out: ByteArrayOutputStream, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63) // zigzag
    while ((z & ~0x7fL) != 0L) {
      out.write(((z & 0x7f) | 0x80).toInt)
      z >>>= 7
    }
    out.write(z.toInt)
  }

  private def writeBytes(out: ByteArrayOutputStream, b: Array[Byte]): Unit = {
    writeVarLong(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  private def writeString(out: ByteArrayOutputStream, s: String): Unit =
    writeBytes(out, s.getBytes(UTF_8))

  private def writeValue(out: ByteArrayOutputStream, t: String, v: Any): Unit =
    (t, v) match {
      case (opt, _) if opt.endsWith("?") =>
        // nullable union ["null", T]: branch index (zigzag long), value
        if (v == null) writeVarLong(out, 0L)
        else { writeVarLong(out, 1L); writeValue(out, opt.dropRight(1), v) }
      case ("long", x: Long)       => writeVarLong(out, x)
      case ("long", x: Int)        => writeVarLong(out, x.toLong)
      case ("int", x: Int)         => writeVarLong(out, x.toLong)
      case ("string", x: String)   => writeString(out, x)
      case ("bytes", x: Array[Byte]) => writeBytes(out, x)
      case ("boolean", x: Boolean) => out.write(if (x) 1 else 0)
      case ("double", x: Double)   =>
        val bits = java.lang.Double.doubleToLongBits(x)
        var i = 0
        while (i < 8) { out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
      case ("float", x: Float)     =>
        val bits = java.lang.Float.floatToIntBits(x)
        var i = 0
        while (i < 4) { out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
      case _ =>
        throw new IllegalArgumentException(
          s"value ${v.getClass.getSimpleName} does not encode as avro $t")
    }

  /** Mutable strict cursor over container bytes. */
  private final class Cursor(val bytes: Array[Byte]) {
    var pos: Int = 0
    def remaining: Int = bytes.length - pos
    def need(n: Int, what: String): Unit =
      if (remaining < n)
        throw new Refusal("truncated", s"avro $what ends early")
    def take(n: Int, what: String): Array[Byte] = {
      need(n, what)
      val r = java.util.Arrays.copyOfRange(bytes, pos, pos + n)
      pos += n
      r
    }
    def readVarLong(what: String): Long = {
      var z = 0L; var shift = 0; var b = 0
      do {
        need(1, what)
        b = bytes(pos) & 0xff
        pos += 1
        if (shift >= 64)
          throw new Refusal("bad_record", s"avro $what varint overruns")
        z |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      (z >>> 1) ^ -(z & 1L) // un-zigzag
    }
    def readLen(what: String): Int = {
      val n = readVarLong(what)
      if (n < 0 || n > remaining)
        throw new Refusal("bad_record", s"avro $what length $n invalid")
      n.toInt
    }
  }

  private def readValue(c: Cursor, t: String): Any = t match {
    case opt if opt.endsWith("?") =>
      c.readVarLong("union index") match {
        case 0L => null
        case 1L => readValue(c, opt.dropRight(1))
        case i => throw new Refusal("bad_record", s"union branch $i of 2")
      }
    case "long"    => c.readVarLong("long")
    case "int"     =>
      val v = c.readVarLong("int")
      if (v < Int.MinValue || v > Int.MaxValue)
        throw new Refusal("bad_record", s"avro int out of range: $v")
      v.toInt
    case "string"  => new String(c.take(c.readLen("string"), "string"), UTF_8)
    case "bytes"   => c.take(c.readLen("bytes"), "bytes")
    case "boolean" =>
      c.need(1, "boolean")
      val b = c.bytes(c.pos); c.pos += 1
      if (b != 0 && b != 1)
        throw new Refusal("bad_record", s"avro boolean byte $b")
      b == 1
    case "double"  =>
      val raw = c.take(8, "double")
      var bits = 0L; var i = 7
      while (i >= 0) { bits = (bits << 8) | (raw(i) & 0xffL); i -= 1 }
      java.lang.Double.longBitsToDouble(bits)
    case "float"   =>
      val raw = c.take(4, "float")
      var bits = 0; var i = 3
      while (i >= 0) { bits = (bits << 8) | (raw(i) & 0xff); i -= 1 }
      java.lang.Float.intBitsToFloat(bits)
  }

  // ------------------------------------------------------------------
  // container file

  /** Deterministic sync marker: 16 bytes of SHA-256 over the schema JSON —
    * same schema, same marker, so identical shards are byte-identical
    * (the reproducible-shard requirement tar/zip/zstd already pin). The
    * spec only requires the marker be fixed per file.
    */
  def syncMarker(schema: Schema): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(("graft.avro.sync:" + schema.json).getBytes(UTF_8))
      .take(16)

  /** Write one container file; `blockSize` = records per data block.
    * `codec` is "null" or "deflate" (raw RFC 1951 per the spec).
    */
  def write(schema: Schema, records: Seq[Record], codec: String = "deflate",
            blockSize: Int = 1000): Array[Byte] = {
    require(codec == "null" || codec == "deflate", s"unsupported codec $codec")
    require(schema.fields.forall(f => typeOk(f._2)),
      s"unsupported field type in ${schema.fields}")
    val out = new ByteArrayOutputStream(4096)
    out.write(Magic, 0, Magic.length)
    // file metadata map: one positive-count block then the 0 terminator
    writeVarLong(out, 2L)
    writeString(out, "avro.schema"); writeBytes(out, schema.json.getBytes(UTF_8))
    writeString(out, "avro.codec"); writeBytes(out, codec.getBytes(UTF_8))
    writeVarLong(out, 0L)
    val sync = syncMarker(schema)
    out.write(sync, 0, sync.length)
    records.grouped(blockSize.max(1)).foreach { grp =>
      val body = new ByteArrayOutputStream(4096)
      grp.foreach { r =>
        require(r.values.length == schema.fields.length,
          s"record arity ${r.values.length} != schema ${schema.fields.length}")
        schema.fields.zip(r.values).foreach { case ((_, t), v) =>
          writeValue(body, t, v)
        }
      }
      val raw = body.toByteArray
      val data = if (codec == "deflate") deflateRaw(raw) else raw
      writeVarLong(out, grp.length.toLong)
      writeVarLong(out, data.length.toLong)
      out.write(data, 0, data.length)
      out.write(sync, 0, sync.length)
    }
    out.toByteArray
  }

  /** Strict read: schema + all records, or a typed [[graft.core.Refusal]]. */
  def read(bytes: Array[Byte]): (Schema, Vector[Record]) = {
    val c = new Cursor(bytes)
    if (bytes.length < 4 || !Magic.indices.forall(i => bytes(i) == Magic(i)))
      throw new Refusal("bad_magic", "not an avro container")
    c.pos = 4
    // metadata map
    var meta = Map.empty[String, Array[Byte]]
    var count = c.readVarLong("meta count")
    while (count != 0L) {
      if (count < 0) { // negative count: abs entries preceded by byte size
        c.readVarLong("meta block size")
        count = -count
      }
      var i = 0L
      while (i < count) {
        val k = new String(c.take(c.readLen("meta key"), "meta key"), UTF_8)
        meta += k -> c.take(c.readLen("meta value"), "meta value")
        i += 1
      }
      count = c.readVarLong("meta count")
    }
    val schemaJson = meta.getOrElse("avro.schema",
      throw new Refusal("bad_meta", "missing avro.schema"))
    val codec = meta.get("avro.codec").map(new String(_, UTF_8)).getOrElse("null")
    if (codec != "null" && codec != "deflate")
      throw new Refusal("bad_codec", s"unsupported codec $codec")
    val schema = parseSchema(new String(schemaJson, UTF_8))
    val sync = c.take(16, "sync marker")
    val recs = Vector.newBuilder[Record]
    while (c.remaining > 0) {
      val n = c.readVarLong("block count")
      if (n < 0) throw new Refusal("bad_record", s"negative block count $n")
      val size = c.readLen("block size")
      val data = c.take(size, "block data")
      val raw = if (codec == "deflate") inflateRaw(data) else data
      val bc = new Cursor(raw)
      var i = 0L
      while (i < n) {
        recs += Record(schema.fields.map { case (_, t) => readValue(bc, t) })
        i += 1
      }
      if (bc.remaining != 0)
        throw new Refusal("bad_record",
          s"block has ${bc.remaining} bytes past its $n records")
      val s2 = c.take(16, "sync marker")
      if (!java.util.Arrays.equals(sync, s2))
        throw new Refusal("bad_sync", "sync marker mismatch")
    }
    (schema, recs.result())
  }

  /** `Right((schema, records))` or `Left(errorKind)` — the one-error-row
    * contract for fault-tolerant shard scans.
    */
  def readSafe(bytes: Array[Byte]): Either[String, (Schema, Vector[Record])] =
    Refusal.attempt(read(bytes), "bad_record")

  /** Reader-schema field spec: name, type, and (for fields absent from a
    * writer's schema) the default value — `None` means the field is
    * REQUIRED and resolution against a writer lacking it refuses.
    */
  final case class ReaderField(name: String, tpe: String, default: Option[Any])

  /** Schema resolution (the Avro spec's "Schema Resolution" section): read
    * a container through a READER schema that may differ from the shard's
    * writer schema — the contract long-lived corpora depend on, because a
    * reader written today must consume shards written under last year's
    * schema. Implemented rules:
    *
    *  - fields match by NAME, not position (writers may reorder);
    *  - writer fields absent from the reader are decoded and DISCARDED
    *    (they must still be consumed — the block grammar demands it);
    *  - reader fields absent from the writer take their default, and a
    *    reader field with no default refuses `bad_schema`;
    *  - promotions: int→long, int→double, long→double, float→double,
    *    string→bytes, bytes→string, and T→T? (required to nullable);
    *    anything else refuses `bad_schema`.
    *
    * Returns records in READER field order.
    */
  def readResolved(bytes: Array[Byte], reader: Seq[ReaderField]): Vector[Record] = {
    val (writer, recs) = read(bytes)
    val writerIdx = writer.fields.zipWithIndex.map { case ((n, t), i) => n -> (t, i) }.toMap
    val plan: Seq[Either[Any, (Int, String, String)]] = reader.map { rf =>
      writerIdx.get(rf.name) match {
        case Some((wt, wi)) =>
          if (!promotes(wt, rf.tpe))
            throw new Refusal("bad_schema",
              s"field ${rf.name}: writer $wt does not resolve to reader ${rf.tpe}")
          Right((wi, wt, rf.tpe))
        case None => rf.default match {
          case Some(d) => Left(d)
          case None => throw new Refusal("bad_schema",
            s"required reader field ${rf.name} missing from writer schema")
        }
      }
    }
    recs.map { r =>
      Record(plan.toVector.map {
        case Left(default) => default
        case Right((wi, wt, rt)) => promote(r.values(wi), wt, rt)
      })
    }
  }

  /** readResolved with the typed-refusal contract. */
  def readResolvedSafe(bytes: Array[Byte],
      reader: Seq[ReaderField]): Either[String, Vector[Record]] =
    Refusal.attempt(readResolved(bytes, reader), "bad_record")

  private def promotes(writer: String, reader: String): Boolean = {
    if (writer == reader) return true
    if (reader.endsWith("?")) return promotes(writer.stripSuffix("?"), reader.dropRight(1))
    (writer, reader) match {
      case ("int", "long") | ("int", "double") | ("long", "double") |
           ("float", "double") | ("string", "bytes") | ("bytes", "string") => true
      case _ => false
    }
  }

  private def promote(v: Any, writer: String, reader: String): Any = {
    if (v == null) return null
    val w = writer.stripSuffix("?")
    val r = reader.stripSuffix("?")
    if (w == r) v
    else (w, r) match {
      case ("int", "long") => v.asInstanceOf[Int].toLong
      case ("int", "double") => v.asInstanceOf[Int].toDouble
      case ("long", "double") => v.asInstanceOf[Long].toDouble
      case ("float", "double") => v.asInstanceOf[Float].toDouble
      case ("string", "bytes") => v.asInstanceOf[String].getBytes(UTF_8)
      case ("bytes", "string") => new String(v.asInstanceOf[Array[Byte]], UTF_8)
      case other => throw new IllegalStateException(s"unreachable promotion $other")
    }
  }

  private def parseSchema(json: String): Schema = {
    val obj = Json.parseOpt(json) match {
      case Some(o: JObj) => o.fields.toMap
      case _ => throw new Refusal("bad_meta", "schema is not a JSON object")
    }
    if (!obj.get("type").contains(JStr("record")))
      throw new Refusal("bad_meta", "only record schemas supported")
    val name = obj.get("name") match {
      case Some(JStr(s)) => s
      case _ => throw new Refusal("bad_meta", "record schema lacks a name")
    }
    val fields = obj.get("fields") match {
      case Some(JArr(items)) if items.nonEmpty =>
        items.map {
          case f: JObj =>
            val fm = f.fields.toMap
            (fm.get("name"), fm.get("type")) match {
              case (Some(JStr(n)), Some(JStr(t))) if PrimTypes(t) => (n, t)
              // the nullable union ["null", T] — any other union shape
              // (reordered, >2 branches, nested) refuses
              case (Some(JStr(n)), Some(JArr(Vector(JStr("null"), JStr(t)))))
                  if PrimTypes(t) => (n, t + "?")
              case (_, Some(JStr(t))) =>
                throw new Refusal("bad_meta", s"unsupported field type $t")
              case (_, Some(a: JArr)) =>
                throw new Refusal("bad_meta",
                  s"unsupported union shape ${Json.render(a)}")
              case _ =>
                throw new Refusal("bad_meta", "malformed schema field")
            }
          case _ => throw new Refusal("bad_meta", "malformed schema field")
        }
      case _ => throw new Refusal("bad_meta", "record schema lacks fields")
    }
    Schema(name, fields)
  }

  private def deflateRaw(bytes: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, /*nowrap=*/ true)
    d.setInput(bytes); d.finish()
    val out = new ByteArrayOutputStream(bytes.length / 3 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def inflateRaw(bytes: Array[Byte]): Array[Byte] = {
    val cap = graft.core.Budget.maxInflatedBytes
    val inf = new Inflater(/*nowrap=*/ true)
    inf.setInput(bytes)
    val out = new ByteArrayOutputStream(bytes.length * 2 + 64)
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput())
          throw new Refusal("truncated", "deflate block ends early")
        out.write(buf, 0, n)
        if (out.size().toLong > cap)
          throw new Refusal("too_large",
            s"avro block inflates past $cap bytes")
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new Refusal("bad_record", s"corrupt deflate block: ${e.getMessage}")
    } finally inf.end()
    out.toByteArray
  }
}
