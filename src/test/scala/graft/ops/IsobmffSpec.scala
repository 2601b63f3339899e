package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{JArr, JInt, JObj, JStr, Json}

/** Pins [[Isobmff]] against fixtures from an independent python
  * transcription of ISO/IEC 14496-12 / 23008-12
  * (tools/make_isobmff_fixture.py), round-trips the Scala writer, and
  * runs the family mutation/truncation sweep.
  */
class IsobmffSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    assert(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  private lazy val expected: Map[String, graft.etl.JVal] =
    Json.parse(new String(fixture("isobmff_expected.json"),
      java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[JObj].fields.toMap

  private def jl(v: graft.etl.JVal): Long = v.asInstanceOf[JInt].i.toLong
  private def js(v: graft.etl.JVal): String = v.asInstanceOf[JStr].s

  test("python-transcription MP4 decodes exactly (v0/v1 boxes, largesize, skip)") {
    val exp = expected("mp4").asInstanceOf[JObj].fields.toMap
    val m = Isobmff.parse(fixture("isobmff_video.mp4"))
    assert(m.majorBrand == js(exp("major")))
    assert(m.compatibleBrands ==
      exp("compat").asInstanceOf[JArr].items.map(js))
    assert(m.timescale == jl(exp("timescale")))
    assert(m.duration == jl(exp("duration")))
    val want = exp("tracks").asInstanceOf[JArr].items.map { t =>
      val f = t.asInstanceOf[JObj].fields.toMap
      Isobmff.Track(jl(f("id")), js(f("handler")), js(f("codec")),
        jl(f("w")).toInt, jl(f("h")).toInt, jl(f("duration")),
        jl(f("media_ts")), jl(f("n_samples")), jl(f("sample_bytes")),
        jl(f("media_dur")))
    }
    assert(m.tracks == want)
    assert(m.itemCodec == "" && m.itemWidth == 0)
  }

  test("python-transcription AVIF decodes exactly (meta/iinf/infe/ipco/ispe)") {
    val exp = expected("avif").asInstanceOf[JObj].fields.toMap
    val m = Isobmff.parse(fixture("isobmff_still.avif"))
    assert(m.majorBrand == js(exp("major")))
    assert(m.itemCodec == js(exp("item_type")))
    assert(m.itemWidth == jl(exp("w")).toInt)
    assert(m.itemHeight == jl(exp("h")).toInt)
    assert(m.tracks.isEmpty && m.timescale == 0)
  }

  test("writer round trip: MP4 with video+audio tracks, HEIF still") {
    val mp4 = Isobmff.writeMp4("isom", Seq("isom", "mp41"), 1000L, 60000L,
      Seq((1L, "vide", "av01", 640, 360, 60000L),
        (2L, "soun", "mp4a", 0, 0, 59000L)))
    val m = Isobmff.parse(mp4)
    assert(m.majorBrand == "isom" && m.compatibleBrands == Vector("isom", "mp41"))
    assert(m.timescale == 1000L && m.duration == 60000L)
    assert(m.tracks == Vector(
      Isobmff.Track(1L, "vide", "av01", 640, 360, 60000L),
      Isobmff.Track(2L, "soun", "mp4a", 0, 0, 59000L)))
    val heif = Isobmff.writeHeif("heic", Seq("heic", "mif1"), "hvc1", 320, 240)
    val h = Isobmff.parse(heif)
    assert(h.majorBrand == "heic" && h.itemCodec == "hvc1")
    assert(h.itemWidth == 320 && h.itemHeight == 240)
    // determinism
    assert(java.util.Arrays.equals(mp4, Isobmff.writeMp4("isom",
      Seq("isom", "mp41"), 1000L, 60000L,
      Seq((1L, "vide", "av01", 640, 360, 60000L),
        (2L, "soun", "mp4a", 0, 0, 59000L)))))
  }

  test("sampled writer round trip: mdhd/stts/stsz recovered exactly") {
    val sizes = Seq.tabulate(40)(k => 700L + (11 * k) % 53)
    val mp4 = Isobmff.writeMp4Sampled("isom", Seq("isom"), 1000L, 4000L,
      Seq((1L, "vide", "avc1", 320, 180, 4000L, 12800L, 512L, sizes)))
    val t = Isobmff.parse(mp4).tracks.head
    assert(t.mediaTimescale == 12800L)
    assert(t.nSamples == 40L)
    assert(t.sampleBytes == sizes.sum)
    assert(t.mediaDuration == 40L * 512)
    // fixed-size stsz form: sample_size != 0
    val fixed = Isobmff.box("stsz", Array[Byte](0, 0, 0, 0),
      Isobmff.be32(900L), Isobmff.be32(7L))
    val mp4b = {
      // splice the fixed stsz over the per-sample one is fiddly; build a
      // minimal stbl variant instead through the public writer pieces
      val entry = Isobmff.box("avc1", new Array[Byte](6), Isobmff.be16(1),
        new Array[Byte](16), Isobmff.be16(8), Isobmff.be16(6),
        Isobmff.be32(0x00480000L), Isobmff.be32(0x00480000L), Isobmff.be32(0L),
        Isobmff.be16(1), new Array[Byte](32), Isobmff.be16(0x18),
        Isobmff.be16(0xffff))
      val stsd = Isobmff.box("stsd", Array[Byte](0, 0, 0, 0),
        Isobmff.be32(1L), entry)
      val hdlrB = Isobmff.box("hdlr", Array[Byte](0, 0, 0, 0),
        Isobmff.be32(0L), Isobmff.cc("vide"), new Array[Byte](12), Array[Byte](0))
      val tkhd = Isobmff.box("tkhd", Array[Byte](0, 0, 0, 7),
        Isobmff.be32(0L), Isobmff.be32(0L), Isobmff.be32(1L), Isobmff.be32(0L),
        Isobmff.be32(100L), new Array[Byte](8), Isobmff.be16(0), Isobmff.be16(0),
        Isobmff.be16(0), Isobmff.be16(0),
        Isobmff.be32(0x00010000L), Isobmff.be32(0L), Isobmff.be32(0L),
        Isobmff.be32(0L), Isobmff.be32(0x00010000L), Isobmff.be32(0L),
        Isobmff.be32(0L), Isobmff.be32(0L), Isobmff.be32(0x40000000L),
        Isobmff.be32(8L << 16), Isobmff.be32(6L << 16))
      val stbl = Isobmff.box("stbl", stsd, fixed)
      val mdia = Isobmff.box("mdia", hdlrB, Isobmff.box("minf", stbl))
      Isobmff.ftyp("isom", Nil) ++
        Isobmff.box("moov", Isobmff.box("trak", tkhd, mdia))
    }
    val t2 = Isobmff.parse(mp4b).tracks.head
    assert(t2.sampleBytes == 900L * 7)
    assert(t2.nSamples == 0L) // no stts in this variant

    // u32xu32 overflow in lying tables refuses typed, never wraps:
    // splice a crafted stts (count=0xFFFFFFFF, delta=0xFFFFFFFF) into mp4
    val evil = mp4.clone()
    val at = evil.indexOfSlice("stts".getBytes)
    assert(at > 0)
    // stts payload: version/flags(4) entry_count(4) then (count, delta)
    java.util.Arrays.fill(evil, at + 12, at + 20, 0xff.toByte)
    assert(Isobmff.parseSafe(evil) == Left("bad_frame"))
  }

  test("python-transcription fragmented MP4 decodes exactly (moof/tfhd/trun/trex)") {
    val exp = expected("fmp4").asInstanceOf[JObj].fields.toMap
    val m = Isobmff.parse(fixture("isobmff_frag.mp4"))
    assert(m.majorBrand == js(exp("major")))
    assert(m.tracks.map(t => (t.id, t.width, t.height)) ==
      Vector((jl(exp("track")), jl(exp("w")).toInt, jl(exp("h")).toInt)))
    val want = exp("fragments").asInstanceOf[JArr].items.map { t =>
      val f = t.asInstanceOf[JObj].fields.toMap
      Isobmff.Fragment(jl(f("seq")), jl(f("track")), jl(f("n")),
        jl(f("bytes")), jl(f("dur")))
    }
    assert(m.fragments == want)
  }

  test("fragmented MP4: moof/tfhd/trun totals with per-sample and trex-default forms") {
    val f1 = Isobmff.FragSpec(1, Seq((512L, 800L), (512L, 820L), (256L, 700L)))
    val f2 = Isobmff.FragSpec(2, Nil, defaultCount = 100)
    val fmp4 = Isobmff.writeFmp4("cmfc", Seq("iso6", "cmfc"), 12800L,
      3L, "avc1", 640, 360, 512L, 760L, Seq(f1, f2))
    val m = Isobmff.parse(fmp4)
    assert(m.majorBrand == "cmfc")
    assert(m.tracks.map(t => (t.id, t.codec, t.width)) ==
      Vector((3L, "avc1", 640)))
    assert(m.fragments == Vector(
      Isobmff.Fragment(1, 3, 3, 800 + 820 + 700, 512 + 512 + 256),
      Isobmff.Fragment(2, 3, 100, 100 * 760, 100 * 512)))
    // a defaults-driven trun with NO trex in sight refuses typed
    val orphan = Isobmff.ftyp("isom", Nil) ++
      Isobmff.box("moof",
        Isobmff.box("mfhd", Array[Byte](0, 0, 0, 0), Isobmff.be32(1L)),
        Isobmff.box("traf",
          Isobmff.box("tfhd", Array[Byte](0, 0, 0, 0), Isobmff.be32(9L)),
          Isobmff.box("trun", Array[Byte](0, 0, 0, 0), Isobmff.be32(5L))))
    assert(Isobmff.parseSafe(orphan) == Left("bad_frame"))
    // a u32 sample count can never drive a 4-billion-step loop: the
    // defaults form computes totals arithmetically and overflow refuses
    val bomb = Isobmff.writeFmp4("cmfc", Nil, 1000L, 1L, "avc1", 8, 6,
      0xffffffffL, 0xffffffffL, Seq(Isobmff.FragSpec(1, Nil, 0xffffffffL)))
    assert(Isobmff.parseSafe(bomb) == Left("bad_frame"))
  }

  test("sample decode refuses typed, like Vp8 inter-frame") {
    val e = intercept[graft.core.Refusal](Isobmff.decodeSamples(Array[Byte]()))
    assert(e.kind == "unsupported")
  }

  test("refusals are typed: magic, nesting, counts, mutations, cuts") {
    assert(Isobmff.parseSafe("nope".getBytes) == Left("truncated"))
    assert(Isobmff.parseSafe(new Array[Byte](32)) == Left("bad_magic"))
    // a box that lies past its container
    val lie = Isobmff.ftyp("isom", Nil) ++
      Isobmff.be32(1 << 20) ++ Isobmff.cc("moov")
    assert(Isobmff.parseSafe(lie) == Left("truncated"))
    // size below the header length
    val small = Isobmff.ftyp("isom", Nil) ++
      Isobmff.be32(4L) ++ Isobmff.cc("free")
    assert(Isobmff.parseSafe(small) == Left("bad_frame"))
    val kinds = Set("bad_magic", "truncated", "bad_frame", "too_large")
    Seq(fixture("isobmff_video.mp4"), fixture("isobmff_still.avif")).foreach { g =>
      for (pos <- g.indices; x <- Seq(0x01, 0x5a, 0x80, 0xff)) {
        val m = g.clone(); m(pos) = (m(pos) ^ x).toByte
        Isobmff.parseSafe(m) match {
          case Left(k) => assert(kinds.contains(k), s"pos=$pos x=$x kind=$k")
          case Right(_) => ()
        }
      }
      // truncations: typed refusal or a clean shorter parse — never a throw
      for (n <- 0 until g.length)
        Isobmff.parseSafe(java.util.Arrays.copyOf(g, n)) match {
          case Left(k) => assert(kinds.contains(k), s"cut $n kind=$k")
          case Right(_) => ()
        }
    }
  }
}
