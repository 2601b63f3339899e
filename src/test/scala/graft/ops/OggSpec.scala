package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.US_ASCII

import graft.etl.{JArr, JInt, JObj, JStr, Json}

/** Locks on the Ogg/Opus/Vorbis walk (graft.ops.Ogg) against fixtures
  * from the independent python transcription (tools/make_ogg_fixture.py):
  * page CRC, lacing/continuation, chained and multiplexed streams, the
  * OpusHead/Vorbis-ID fields and floor-divided durations, plus the
  * typed-refusal contract and a writer/fixture byte identity.
  */
class OggSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    assert(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  private val expected = Json.parse(new String(
    fixture("ogg_expected.json"), US_ASCII)).asInstanceOf[JObj].fields.toMap

  private def check(name: String): Unit = {
    val want = expected(name).asInstanceOf[JObj].fields.toMap
    val m = Ogg.parse(fixture(name))
    assert(m.nPages == want("n_pages").asInstanceOf[JInt].i.toLong, s"$name pages")
    val streams = want("streams").asInstanceOf[JArr].items.map(
      _.asInstanceOf[JObj].fields.toMap)
    assert(m.streams.length == streams.length, s"$name stream count")
    m.streams.zip(streams).foreach { case (got, w) =>
      def i(k: String): Long = w(k).asInstanceOf[JInt].i.toLong
      assert(got.serial == i("serial"), s"$name serial")
      assert(got.codec == w("codec").asInstanceOf[JStr].s, s"$name codec")
      assert(got.channels == i("channels"), s"$name channels")
      assert(got.sampleRate == i("rate"), s"$name rate")
      assert(got.preSkip == i("preskip"), s"$name preskip")
      assert(got.lastGranule == i("last_granule"), s"$name granule")
      assert(got.nPages == i("n_pages"), s"$name stream pages")
      assert(got.nPackets == i("n_packets"), s"$name packets")
      assert(got.durationMs == i("duration_ms"), s"$name duration")
    }
  }

  test("opus / vorbis / spanning / chained / multiplexed fixtures parse exactly") {
    Seq("ogg_opus.ogg", "ogg_vorbis.ogg", "ogg_span.ogg", "ogg_chain.ogg",
      "ogg_mux.ogg").foreach(check)
  }

  test("CRC table pins against the python bit-level known answer") {
    val want = expected("crc_oggs_123").asInstanceOf[JInt].i.toLong
    assert((Ogg.crc("OggS123".getBytes(US_ASCII), 0, 7) & 0xffffffffL) == want)
  }

  test("writer is byte-identical to the python layout") {
    val pk = Seq(
      Ogg.OggPacket(Ogg.opusHead(2, 312, 44100), 0),
      Ogg.OggPacket(Ogg.opusTags("graft-fixture"), 0),
      Ogg.OggPacket(Array.tabulate[Byte](100)(i => ((1 * 31 + i * 7) % 256).toByte), 312 + 960),
      Ogg.OggPacket(Array.tabulate[Byte](120)(i => ((2 * 31 + i * 7) % 256).toByte), 312 + 1920),
      Ogg.OggPacket(Array.tabulate[Byte](80)(i => ((3 * 31 + i * 7) % 256).toByte), 312 + 2880))
    assert(java.util.Arrays.equals(Ogg.write(0x1001, pk), fixture("ogg_opus.ogg")))
    // vorbis file too (ID header, comment, blocksize byte)
    val vk = Seq(
      Ogg.OggPacket(Ogg.vorbisId(2, 44100), 0),
      Ogg.OggPacket(Ogg.vorbisComment("graft-fixture"), 0),
      Ogg.OggPacket(Array.tabulate[Byte](90)(i => ((4 * 31 + i * 7) % 256).toByte), 4410),
      Ogg.OggPacket(Array.tabulate[Byte](95)(i => ((5 * 31 + i * 7) % 256).toByte), 8820))
    assert(java.util.Arrays.equals(Ogg.write(0x2002, vk), fixture("ogg_vorbis.ogg")))
  }

  test("round trip through our writer: spanning packet, granule -1 pages") {
    val big = Array.tabulate[Byte](9000)(i => (i * 13).toByte)
    val bytes = Ogg.write(0x42L, Seq(
      Ogg.OggPacket(Ogg.opusHead(1, 0, 48000), 0),
      Ogg.OggPacket(Ogg.opusTags("v"), 0),
      Ogg.OggPacket(big, 4800)))
    val ps = Ogg.pages(bytes)
    assert(ps.count(_.granule == -1L) == 2) // two unfinished pages
    val m = Ogg.parse(bytes)
    assert(m.streams.length == 1)
    val s = m.streams.head
    assert(s.codec == "opus" && s.nPackets == 3 && s.lastGranule == 4800 &&
      s.durationMs == 100)
  }

  test("OpusHead mapping families: 0 implicit, 1 surround, 255 discrete") {
    val f0 = Ogg.parseOpusHead(Ogg.opusHead(2, 312, 48000L))
    assert(f0.mappingFamily == 0 && f0.streams == 1 && f0.coupled == 1 &&
      f0.mapping == Vector(0, 1))
    // 5.1 surround: 4 streams, 2 coupled, the RFC 7845 §5.1.1.2 table
    val h51 = Ogg.opusHeadMapped(6, 312, 48000L, 1, 4, 2,
      Seq(0, 4, 1, 2, 3, 5))
    val f1 = Ogg.parseOpusHead(h51)
    assert(f1.channels == 6 && f1.mappingFamily == 1 && f1.streams == 4 &&
      f1.coupled == 2 && f1.mapping == Vector(0, 4, 1, 2, 3, 5))
    // discrete family 255 with an unmapped (255) channel
    val fd = Ogg.parseOpusHead(Ogg.opusHeadMapped(3, 0, 16000L, 255, 3, 0,
      Seq(0, 255, 2)))
    assert(fd.mappingFamily == 255 && fd.mapping(1) == 255)
    // refusals: family 0 with >2 ch, >8 ch surround, index out of range,
    // coupled > streams, truncated table
    def kind(b: Array[Byte]): String =
      try { Ogg.parseOpusHead(b); "ok" }
      catch { case e: graft.core.Refusal => e.kind }
    val f0bad = Ogg.opusHead(2, 0, 48000L); f0bad(9) = 3
    assert(kind(f0bad) == "bad_frame")
    assert(kind(Ogg.opusHeadMapped(9, 0, 48000L, 1, 5, 4,
      Seq.fill(9)(0))) == "bad_frame")
    assert(kind(Ogg.opusHeadMapped(2, 0, 48000L, 1, 1, 0,
      Seq(0, 7))) == "bad_frame")
    assert(kind(Ogg.opusHeadMapped(2, 0, 48000L, 1, 1, 2,
      Seq(0, 1))) == "bad_frame")
    val cut = Ogg.opusHeadMapped(6, 0, 48000L, 1, 4, 2, Seq(0, 4, 1, 2, 3, 5))
    assert(kind(java.util.Arrays.copyOf(cut, 22)) == "truncated")
    // and the stream walk applies the same validation to BOS packets
    val badFile = Ogg.write(9L, Seq(
      Ogg.OggPacket(Ogg.opusHeadMapped(2, 0, 48000L, 1, 1, 0, Seq(0, 7)), 0),
      Ogg.OggPacket(Array[Byte](1), 960L)))
    assert(Ogg.parseSafe(badFile) == Left("bad_frame"))
  }

  test("comment blocks: OpusTags and Vorbis forms, case-insensitive fields") {
    val fields = Seq("TITLE" -> "A Söng", "artist" -> "The Band",
      "ALBUM" -> "x=y=z", "DATE" -> "2024")
    val ot = Ogg.parseComments(Ogg.opusTags("libgraft 1.0", fields))
    assert(ot.vendor == "libgraft 1.0")
    assert(ot.first("title").contains("A Söng"))
    assert(ot.first("Artist").contains("The Band"))
    assert(ot.first("ALBUM").contains("x=y=z")) // value keeps its '='
    val vc = Ogg.parseComments(Ogg.vorbisComment("v", fields))
    assert(vc.first("TITLE").contains("A Söng") && vc.fields.length == 4)
    // refusals: lying lengths, no '=', illegal field bytes, bad UTF-8
    val cut = Ogg.opusTags("v", fields)
    assert(Ogg.parseCommentsSafe(
      java.util.Arrays.copyOf(cut, cut.length - 3)) == Left("truncated"))
    assert(Ogg.parseCommentsSafe(Ogg.opusTags("v", Seq("KEYONLY" -> "")))
      .exists(_.first("keyonly").contains(""))) // empty value is legal
    val noEq = Ogg.opusTags("v").dropRight(4) ++
      Array[Byte](1, 0, 0, 0, 7, 0, 0, 0) ++ "nosplit".getBytes("UTF-8")
    assert(Ogg.parseCommentsSafe(noEq) == Left("bad_frame"))
    val badUtf = Ogg.opusTags("v").dropRight(4) ++
      Array[Byte](1, 0, 0, 0, 4, 0, 0, 0, 'A', '=', 0xff.toByte, 0xfe.toByte)
    assert(Ogg.parseCommentsSafe(badUtf) == Left("bad_frame"))
    // vorbis form requires the framing bit
    val framed = Ogg.vorbisComment("v", fields)
    val unframed = framed.clone(); unframed(framed.length - 1) = 0
    assert(Ogg.parseCommentsSafe(unframed) == Left("bad_frame"))
  }

  test("refusals are typed: magic, version, CRC, sequence, flags, truncation") {
    val good = fixture("ogg_opus.ogg")
    assert(Ogg.parseSafe("no ogg here".getBytes(US_ASCII)) == Left("bad_magic"))
    val vers = good.clone(); vers(4) = 1
    assert(Ogg.parseSafe(vers) == Left("bad_frame")) // future version
    val flip = good.clone(); flip(40) = (flip(40) ^ 0x5a).toByte
    assert(Ogg.parseSafe(flip) == Left("bad_frame")) // CRC catches body bit rot
    assert(Ogg.parseSafe(java.util.Arrays.copyOf(good, good.length - 5)) ==
      Left("truncated"))
    // strip the EOS flag from the final page: stream never closes
    val pages = Ogg.pages(good)
    val lastStart = good.length - (27 + 1 + pages.last.packets.map(_.length).sum)
    val noEos = good.clone()
    noEos(lastStart + 5) = (noEos(lastStart + 5) & ~0x04).toByte
    // re-CRC so only the FLAG is wrong, not the checksum
    val c = Ogg.crc(noEos, lastStart, noEos.length,
      zeroFrom = lastStart + 22, zeroUntil = lastStart + 26)
    var i = 0
    while (i < 4) {
      noEos(lastStart + 22 + i) = ((c >>> (8 * i)) & 0xff).toByte; i += 1
    }
    assert(Ogg.parseSafe(noEos) == Left("bad_frame"))
    // unknown first packet stays "unknown", still audited
    val unk = Ogg.write(7L, Seq(
      Ogg.OggPacket("mystery codec header".getBytes(US_ASCII), 0),
      Ogg.OggPacket(Array[Byte](1, 2, 3), 100)))
    val m = Ogg.parse(unk)
    assert(m.streams.head.codec == "unknown" && m.streams.head.nPackets == 2)
  }

  test("packet 0 spanning pages carries BOS only on its first page") {
    // a first packet longer than maxSegsPerPage*255 spans pages; BOS on
    // a continuation page made the reader reject the writer's own
    // output as duplicate BOS (round-16 advice)
    val big = Array.tabulate[Byte](9001)(i => (i % 251).toByte)
    val bytes = Ogg.write(42L, Seq(
      Ogg.OggPacket(big, 0L),
      Ogg.OggPacket(Array[Byte](4, 5, 6), 4800L)))
    val pgs = Ogg.pages(bytes)
    assert(pgs.length >= 4) // 9001 B = 36 lacing segs > 2 pages of 16
    assert(pgs.head.bos && pgs.count(_.bos) == 1)
    val m2 = Ogg.parse(bytes)
    assert(m2.streams.head.nPackets == 2 &&
      m2.streams.head.codec == "unknown")
  }
}
