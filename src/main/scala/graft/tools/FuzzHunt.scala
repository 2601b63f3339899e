package graft.tools

import graft.core.Refusal
import graft.ops.{ArrowIpc, Flac, FlacAudio, Msgpack, Npy, Safetensors, TfExample}
import graft.ops.ArrowIpc.{ACol, AField, ALongCol, AStrCol}

/** Exhaustive single-byte-mutation harness for the safe readers: every
  * (position, xor) pair of a valid file must yield a TYPED refusal or a
  * successful parse — never a throw, never a slow path (a mutated
  * declared count driving a giant allocation is a denial-of-service on
  * a 100 TB scan; this harness caught exactly that in the round-12
  * Arrow reader: Int-overflowing size checks and an unchecked
  * fields-vector count). ContainerFuzzSpec carries the randomized
  * always-on version; run this before shipping a new container codec:
  *
  *   sbt "runMain graft.tools.FuzzHunt"
  */
object FuzzHunt {

  private def hunt(name: String, valid: Array[Byte], kinds: Set[String],
      parse: Array[Byte] => Either[String, Any]): Int = {
    var bad = 0
    for (pos <- valid.indices; x <- 1 until 256) {
      val m = valid.clone(); m(pos) = (m(pos) ^ x).toByte
      val t0 = System.nanoTime()
      try {
        parse(m) match {
          case Left(k) if !kinds.contains(k) =>
            bad += 1; if (bad < 10) println(s"[$name] KIND pos=$pos x=$x kind=$k")
          case _ => ()
        }
      } catch {
        case e: Throwable =>
          bad += 1
          if (bad < 10) println(s"[$name] THROW pos=$pos x=$x ${e.getClass.getName}")
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (ms > 100) { bad += 1; println(s"[$name] SLOW pos=$pos x=$x ${ms.toInt}ms") }
    }
    println(s"[$name] bad: $bad over ${valid.length * 255} mutations")
    bad
  }

  def main(args: Array[String]): Unit = {
    var total = 0

    total += hunt("arrow",
      ArrowIpc.write(
        Vector(AField("id", "i64", nullable = false),
          AField("t", "utf8", nullable = true)),
        Seq(Vector[ACol](
          ALongCol("id", null, Array(1L, 2L, 3L)),
          AStrCol("t", Array(true, false, true), Array("a", null, "ccc"))))),
      Set("bad_stream", "truncated", "too_large", "bad_schema",
        "unsupported_type", "unsupported_dictionary",
        "unsupported_compression", "unsupported_endianness"),
      ArrowIpc.readSafe)

    total += hunt("npz",
      Npy.writeNpz(Seq(
        "ids" -> Npy.writeLongs(Array(1L, 2L, 3L)),
        "vecs" -> Npy.writeFloats(Seq(3L, 2L), Array(1f, 2f, 3f, 4f, 5f, 6f)))),
      Set("bad_magic", "bad_version", "bad_header", "unsupported_dtype",
        "fortran_order", "size_mismatch", "too_large", "bad_zip", "truncated"),
      Npy.readNpzSafe)

    total += hunt("msgpack",
      Msgpack.encodeAll(Seq(graft.etl.JObj(Vector(
        "id" -> graft.etl.JInt(BigInt(7)),
        "t" -> graft.etl.JStr("hello"),
        "xs" -> graft.etl.JArr(Vector(graft.etl.JFloat(1.5), graft.etl.JNull)))))),
      Set("truncated", "bad_type", "too_large", "trailing_garbage"),
      Msgpack.decodeAllSafe)

    total += hunt("safetensors",
      Safetensors.write(Seq(
        "ids" -> Safetensors.longTensor(Array(1L, 2L)),
        "v" -> Safetensors.floatTensor(Seq(2L, 2L), Array(1f, 2f, 3f, 4f)))),
      Set("bad_header", "unsupported_dtype", "bad_offsets", "truncated"),
      Safetensors.readSafe)

    total += hunt("flac",
      Flac.write(44100, 2, 16, 1000L, new Array[Byte](16),
        vendor = "v", comments = Seq("TITLE" -> "t"), paddingBytes = 8),
      Set("bad_magic", "truncated", "bad_streaminfo", "bad_comment", "too_large"),
      Flac.readSafe)

    total += hunt("tfexample",
      TfExample.encode(Vector(
        "id" -> TfExample.Int64Feature(Vector(7L, -1L)),
        "text" -> TfExample.BytesFeature(Vector(
          "hello".getBytes(java.nio.charset.StandardCharsets.UTF_8))),
        "score" -> TfExample.FloatFeature(Vector(1.5f, -0.25f)))),
      Set("truncated", "bad_varint", "bad_wire", "too_large"),
      TfExample.decodeSafe)

    total += hunt("flac_audio",
      FlacAudio.encode(8000, 16,
        Array(Array.tabulate(150)(i => ((i * 31) % 251) - 125),
          Array.tabulate(150)(i => ((i * 17) % 193) - 96)),
        blockSize = 64),
      Set("bad_magic", "truncated", "bad_streaminfo", "bad_comment",
        "too_large", "bad_frame", "crc_mismatch", "bad_md5"),
      FlacAudio.decodeSafe)

    total += hunt("webp_anim",
      graft.ops.WebpAnim.encodeAnim(12, 8, (3, 5, 7, 255), 2, Seq(
        graft.ops.WebpAnim.EncFrame(0, 0, 40, disposeBg = false, 12, 8,
          Array.tabulate(12 * 8 * 4)(i =>
            if (i % 4 == 3) 0xff.toByte else ((i * 13) % 251).toByte)),
        graft.ops.WebpAnim.EncFrame(4, 2, 60, disposeBg = true, 4, 4,
          Array.tabulate(4 * 4 * 4)(i =>
            if (i % 4 == 3) 0xff.toByte else ((i * 29) % 251).toByte)))),
      Set("unsupported", "truncated", "not_media", "malformed"),
      graft.ops.WebpAnim.decodeSafe)

    total += hunt("gzip",
      {
        // concatenated members + FNAME/FHCRC header fields: every branch
        // of the member-by-member reader sits under the mutation lens
        val p1 = "hello gzip world ".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val p2 = "second member".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        graft.ops.Zstd.compressGzip(p1) ++ graft.ops.Zstd.compressGzip(p2)
      },
      Set("bad_magic", "bad_frame", "too_large"),
      b => Refusal.attempt(graft.ops.Zstd.decompressGzip(b)))

    total += hunt("bzip2",
      {
        // two concatenated streams at different levels: the multi-stream
        // walk, RLE1 runs, MTF zero runs, and both Huffman tables all sit
        // under the mutation lens
        val p1 = ("bzip2 mutation fodder " * 8 + "aaaaaaaaaaaaaaaa")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val p2 = "second stream".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        graft.ops.Bzip2.compress(p1, 1) ++ graft.ops.Bzip2.compress(p2, 9)
      },
      Set("bad_magic", "bad_frame", "too_large", "unsupported"),
      graft.ops.Bzip2.decompressSafe)

    total += hunt("xz",
      {
        // two concatenated streams (CRC32 + CRC64) with stream padding:
        // the container walk, index/footer checks, LZMA2 chunking, and
        // the LZMA range decoder all sit under the mutation lens
        val p1 = ("xz mutation fodder " * 8 + "aaaaaaaaaaaaaaaa")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val p2 = "second stream".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        graft.ops.Xz.compress(p1, 1, 1) ++ Array.fill(4)(0.toByte) ++
          graft.ops.Xz.compress(p2, 6, 4)
      },
      Set("bad_magic", "bad_frame", "too_large", "unsupported"),
      graft.ops.Xz.decompressSafe)

    total += hunt("snappy",
      {
        // two concatenated framed streams + a padding chunk: stream-id
        // restart, the tag walk, CRC32C, and chunk skipping all sit
        // under the mutation lens
        val p1 = ("snappy mutation fodder " * 8 + "aaaaaaaaaaaaaaaa")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val p2 = "second stream".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        graft.ops.Snappy.compress(p1) ++
          Array[Byte](0xfe.toByte, 2, 0, 0, 0, 0) ++
          graft.ops.Snappy.compress(p2)
      },
      Set("bad_magic", "bad_frame", "too_large", "unsupported"),
      graft.ops.Snappy.decompressSafe)

    total += hunt("lzma_alone",
      // the magic-less legacy container: every header byte (props, dict
      // size, the all-FF unknown size) and the marker-terminated LZMA
      // body sit under the mutation lens
      graft.ops.Xz.compressAlone(
        ("alone mutation fodder " * 8 + "aaaaaaaaaaaaaaaa")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8), 1, sizeKnown = false),
      Set("bad_magic", "bad_frame", "too_large", "unsupported"),
      graft.ops.Xz.decompressAloneSafe)

    total += hunt("brotli",
      // magic-less format: the window header, meta-block framing, MLEN
      // nibbles and the trailing-garbage gate all sit under the mutation
      // lens; mutations that land in raw data decode silently (brotli
      // carries no checksum), mutations that flip framing bits must
      // refuse typed. BrotliSpec separately sweeps a libbrotli q9 stream
      // to cover the compressed-block paths.
      graft.ops.Brotli.compress(
        ("brotli mutation fodder " * 8 + "aaaaaaaaaaaaaaaa")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      Set("bad_frame", "too_large", "unsupported"),
      graft.ops.Brotli.decompressSafe)

    total += hunt("gguf",
      graft.ops.Gguf.write(
        Seq("general.name" -> graft.ops.Gguf.MString("fuzz"),
          "ids" -> graft.ops.Gguf.MArray(Vector(
            graft.ops.Gguf.MInt(1), graft.ops.Gguf.MInt(2)))),
        Seq(("t", Vector(6L), Left(Array(1f, 2f, 3f, 4f, 5f, 6f))),
          ("h", Vector(2L), Right(Array[Short](0x3c00.toShort, 0x4000.toShort))))),
      Set("bad_magic", "bad_frame", "truncated", "too_large", "unsupported"),
      graft.ops.Gguf.readSafe)

    total += hunt("gguf_kquant",
      // the round-16 k-quant block layouts under the mutation lens: a
      // mutated scale byte or qh bit must still parse (payload is data,
      // not structure) while directory/size lies refuse typed
      graft.ops.Gguf.writeTensors(
        Seq("ids" -> graft.ops.Gguf.MArray(Vector(graft.ops.Gguf.MInt(1)))),
        Seq(
          ("a", Vector(256L), graft.ops.Gguf.Q4K(
            Array[Short](0x3400), Array[Short](0x3800),
            Array.tabulate[Byte](8)(j => (j * 7 % 64).toByte),
            Array.tabulate[Byte](8)(j => (j * 5 % 64).toByte),
            Array.tabulate[Byte](256)(i => (i % 16).toByte))),
          ("b", Vector(256L), graft.ops.Gguf.Q5K(
            Array[Short](0x3400), Array[Short](0x3800),
            Array.tabulate[Byte](8)(j => (j * 7 % 64).toByte),
            Array.tabulate[Byte](8)(j => (j * 5 % 64).toByte),
            Array.tabulate[Byte](256)(i => (i % 32).toByte))),
          ("c", Vector(256L), graft.ops.Gguf.Q6K(
            Array[Short](0x3400),
            Array.tabulate[Byte](16)(j => (j - 8).toByte),
            Array.tabulate[Byte](256)(i => (i % 64).toByte))))),
      Set("bad_magic", "bad_frame", "truncated", "too_large", "unsupported"),
      // force the dequant paths so payload mutations execute them; a
      // mutated tensor NAME makes floats() miss — same typed family
      b => Refusal.attempt({
        val m = graft.ops.Gguf.read(b)
        m.floats("a"); m.floats("b"); m.floats("c")
      }, "bad_frame"))

    total += hunt("isobmff",
      // box framing, v0/v1 full boxes, largesize, stsd entries, HEIF item
      // boxes — every size/version gate sits under the mutation lens
      graft.ops.Isobmff.writeMp4("isom", Seq("isom", "mp41"), 1000L, 60000L,
        Seq((1L, "vide", "av01", 64, 36, 60000L),
          (2L, "soun", "mp4a", 0, 0, 59000L))) ++
        graft.ops.Isobmff.writeHeif("avif", Seq("avif", "mif1"), "av01", 8, 6) ++
        graft.ops.Isobmff.writeFmp4("cmfc", Seq("iso6"), 1000L, 1L, "avc1",
          16, 9, 512L, 700L, Seq(
            graft.ops.Isobmff.FragSpec(1, Seq((512L, 800L), (256L, 700L))),
            graft.ops.Isobmff.FragSpec(2, Nil, defaultCount = 12))),
      Set("bad_magic", "truncated", "bad_frame", "too_large"),
      graft.ops.Isobmff.parseSafe)

    total += hunt("zstd_seekable",
      graft.ops.ZstdSeekable.compress(
        ("seekable mutation fodder " * 20).getBytes(
          java.nio.charset.StandardCharsets.UTF_8), frameSize = 64),
      Set("bad_magic", "bad_frame", "too_large", "crc_mismatch"),
      b => graft.ops.ZstdSeekable.seekTableSafe(b).flatMap(t =>
        graft.ops.ZstdSeekable.readRangeSafe(b, t, 0,
          math.min(t.totalDecompressed, 1 << 20).toInt)))

    total += hunt("exif",
      graft.ops.Exif.buildJpeg(6, "2024:02:29 12:00:00", "maker",
        Some((45L, 2L)), littleEndian = true, comment = "fuzz body"),
      Set("not_media", "truncated", "malformed"),
      b => graft.ops.Exif.parseSafe(b))

    total += hunt("cbor",
      graft.ops.Cbor.encodeAll(Seq(graft.etl.JObj(Vector(
        "id" -> graft.etl.JInt(BigInt(7)),
        "t" -> graft.etl.JStr("hello"),
        "xs" -> graft.etl.JArr(Vector(graft.etl.JFloat(1.5), graft.etl.JNull,
          graft.etl.JBool(true))))))),
      Set("truncated", "bad_type", "too_large"),
      graft.ops.Cbor.decodeAllSafe)

    total += hunt("ogg",
      // page CRC, lacing, continuation (a 600-byte packet spans pages),
      // chained second stream — every gate under the mutation lens
      graft.ops.Ogg.write(0x11L, Seq(
        graft.ops.Ogg.OggPacket(graft.ops.Ogg.opusHead(2, 312, 48000L), 0),
        graft.ops.Ogg.OggPacket(graft.ops.Ogg.opusTags("fuzz"), 0),
        graft.ops.Ogg.OggPacket(
          Array.tabulate[Byte](600)(i => (i * 13).toByte), 960L)),
        maxSegsPerPage = 2) ++
        graft.ops.Ogg.write(0x22L, Seq(
          graft.ops.Ogg.OggPacket(graft.ops.Ogg.vorbisId(1, 8000L), 0),
          graft.ops.Ogg.OggPacket(graft.ops.Ogg.vorbisComment("f"), 0),
          graft.ops.Ogg.OggPacket(Array[Byte](1, 2, 3), 320L))),
      Set("bad_magic", "truncated", "bad_frame"),
      graft.ops.Ogg.parseSafe)

    total += hunt("matroska",
      // VINT grammar, nesting bounds, definite sizes, trailing-byte gate,
      // float duration widths — every gate under the mutation lens
      graft.ops.Matroska.write("webm", 4, 1000000L, 4000.0,
        Seq(graft.ops.Matroska.TrackSpec(1, 1, "V_VP9", width = 640, height = 360),
          graft.ops.Matroska.TrackSpec(2, 2, "A_OPUS",
            sampleRate = 48000.0, channels = 2)),
        Seq(graft.ops.Matroska.ClusterSpec(0, Seq(24, 16)),
          graft.ops.Matroska.ClusterSpec(1000, Seq(30)))),
      Set("bad_magic", "truncated", "bad_frame", "too_large", "unsupported"),
      graft.ops.Matroska.parseSafe)

    total += hunt("matroska_stream",
      // the unknown-size (streaming) segment form
      graft.ops.Matroska.write("matroska", 4, 500000L, 100.0,
        Seq(graft.ops.Matroska.TrackSpec(1, 1, "V_MPEG4/ISO/AVC",
          width = 32, height = 18)),
        Seq(graft.ops.Matroska.ClusterSpec(0, Seq(8))),
        streamingSegment = true),
      Set("bad_magic", "truncated", "bad_frame", "too_large", "unsupported"),
      graft.ops.Matroska.parseSafe)

    total += hunt("id3",
      // syncsafe vs plain sizes, four encodings, COMM/TXXX framing,
      // padding gate — both versions under the mutation lens
      graft.ops.Id3.write(4, Seq(("TIT2", "tïtle", 3), ("TPE1", "artist", 0),
        ("TALB", "wide", 1), ("TRCK", "3/12", 2), ("TXXX", "k v", 3),
        ("COMM", "comment body", 1))) ++
        graft.ops.Id3.write(3, Seq(("TIT2", "v3 title", 0),
          ("TPE1", "wïde", 1), ("COMM", "v3 comment", 0))),
      Set("bad_magic", "truncated", "bad_frame", "unsupported"),
      b => graft.ops.Id3.parseSafe(b))

    total += hunt("sevenzip",
      // solid LZMA1 folder, empty member, unicode name, every CRC layer
      graft.ops.SevenZip.write(Seq(
        graft.ops.SevenZip.SzMember("a/tëxt.txt",
          ("the seven zip mutation target " * 4).getBytes("UTF-8")),
        graft.ops.SevenZip.SzMember("b/empty", Array.emptyByteArray),
        graft.ops.SevenZip.SzMember("c.bin", Array.tabulate(96)(k => (k * 7).toByte)))),
      Set("bad_magic", "bad_7z", "bad_crc", "truncated", "unsupported",
        "encrypted", "too_large", "bad_frame"),
      graft.ops.SevenZip.readSafe)

    total += hunt("eml",
      graft.ops.Mail.writeEml("a@example.com", "b@example.com",
        "sübject line", "Thu, 01 Jan 2026 00:00:00 +0000",
        "body one\nbody twö line", forceB64 = true),
      Set("bad_mail", "bad_b64", "unsupported"),
      graft.ops.Mail.parseSafe)

    total += hunt("mbox",
      graft.ops.Mail.writeMbox(Seq(
        graft.ops.Mail.writeEml("a@x.com", "l@x.com", "m1",
          "Thu, 01 Jan 2026 00:00:00 +0000", "From the start\nbody"),
        graft.ops.Mail.writeEml("b@x.com", "l@x.com", "m2",
          "Thu, 01 Jan 2026 00:00:00 +0000", "second"))),
      Set("bad_mbox", "bad_mail", "bad_b64", "unsupported"),
      b => graft.ops.Mail.mboxSplitSafe(b).flatMap { msgs =>
        // a healthy split must also leave each message parseable-or-typed
        msgs.foldLeft[Either[String, Any]](Right(())) { (acc, m) =>
          acc.flatMap(_ => graft.ops.Mail.parseSafe(m).map(_ => ()))
        }
      })

    total += hunt("odt",
      graft.etl.OdtText.write(Seq("paragraph öne", "two\twith tab",
        "spaced    run")),
      Set("bad_odt", "bad_zip", "truncated", "too_large"),
      graft.etl.OdtText.extractSafe)

    total += hunt("ods",
      graft.etl.OdsText.write(Seq("s" -> Seq(
        Seq(graft.etl.OdsText.OStr("cell"), graft.etl.OdsText.ONum(42),
          graft.etl.OdsText.OBool(true), graft.etl.OdsText.ODate("2026-08-17"))))),
      Set("bad_ods", "bad_zip", "truncated", "too_large"),
      graft.etl.OdsText.extractSafe)

    total += hunt("rtf",
      graft.etl.RtfText.write("rtf {target} with spëcials \\ and\nlines"),
      Set("bad_rtf", "too_large"),
      graft.etl.RtfText.extractSafe)

    println(s"TOTAL bad: $total")
    if (total > 0) sys.exit(1)
  }
}
