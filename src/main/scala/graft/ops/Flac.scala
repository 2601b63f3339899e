package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import graft.core.Refusal

/** FLAC metadata codec — STREAMINFO + Vorbis-comment parsing/emission
  * for the third audio container the engine audits (MP3 frame headers:
  * [[Mp3]]; WAV PCM: [[Wav]]; FLAC: here). Corpus-scale audio curation
  * needs the *shape* of each file (rate, channels, depth, duration,
  * tags) without decoding audio, and FLAC front-loads exactly that in
  * its metadata blocks. Written against the public FLAC format spec
  * (magic `fLaC`; blocks of `is-last(1) | type(7) | length(24 BE)`;
  * STREAMINFO's 34-byte bit-packed layout; the Vorbis comment block's
  * LITTLE-endian length-prefixed strings — the one LE island in an
  * otherwise BE format) and an independent python fixture writer
  * (tools/make_flac_fixture.py).
  *
  * Frame/audio decode is out of scope BY CONTRACT (this is the
  * metadata-audit operator); a stream whose first block is not a valid
  * STREAMINFO refuses `bad_streaminfo` rather than guessing. Other
  * typed kinds: `bad_magic`, `truncated`, `bad_comment`, `too_large`
  * (declared block/comment lengths past
  * [[graft.core.Budget.maxInflatedBytes]], checked before allocation).
  */
object Flac {

  final case class FlacMeta(
      sampleRate: Int, channels: Int, bitsPerSample: Int,
      totalSamples: Long, md5: String,
      vendor: String, comments: Vector[(String, String)],
      nBlocks: Int, paddingBytes: Long)

  private def fail(kind: String, msg: String): Nothing =
    throw new Refusal(kind, s"$kind: $msg")

  // ------------------------------------------------------------- write --

  /** Emit magic + STREAMINFO (+ optional VORBIS_COMMENT + PADDING).
    * No audio frames — the metadata-audit shape (a player would stop at
    * the last block; our reader audits exactly the blocks).
    */
  def write(sampleRate: Int, channels: Int, bitsPerSample: Int,
      totalSamples: Long, md5: Array[Byte],
      vendor: String = "", comments: Seq[(String, String)] = Nil,
      paddingBytes: Int = 0,
      blockSizeMin: Int = 4096, blockSizeMax: Int = 4096): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), s"rate $sampleRate")
    require(channels >= 1 && channels <= 8, s"channels $channels")
    require(bitsPerSample >= 4 && bitsPerSample <= 32, s"bps $bitsPerSample")
    require(totalSamples >= 0 && totalSamples < (1L << 36), s"samples $totalSamples")
    require(md5.length == 16, "md5 must be 16 bytes")
    require(blockSizeMin >= 16 && blockSizeMin <= blockSizeMax && blockSizeMax <= 65535,
      s"block sizes $blockSizeMin..$blockSizeMax")
    val out = new java.io.ByteArrayOutputStream(256)
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    val hasVc = vendor.nonEmpty || comments.nonEmpty
    val hasPad = paddingBytes > 0

    def blockHeader(typ: Int, len: Int, last: Boolean): Unit = {
      out.write((if (last) 0x80 else 0) | typ)
      out.write((len >> 16) & 0xff); out.write((len >> 8) & 0xff); out.write(len & 0xff)
    }
    // STREAMINFO: declared min/max block size, frame sizes 0 (unknown)
    blockHeader(0, 34, last = !hasVc && !hasPad)
    out.write((blockSizeMin >> 8) & 0xff); out.write(blockSizeMin & 0xff)
    out.write((blockSizeMax >> 8) & 0xff); out.write(blockSizeMax & 0xff)
    out.write(0); out.write(0); out.write(0) // min frame unknown
    out.write(0); out.write(0); out.write(0) // max frame unknown
    // 64 bits: rate(20) | channels-1(3) | bps-1(5) | totalSamples(36)
    val packed = (sampleRate.toLong << 44) | ((channels - 1).toLong << 41) |
      ((bitsPerSample - 1).toLong << 36) | totalSamples
    var i = 56
    while (i >= 0) { out.write(((packed >>> i) & 0xff).toInt); i -= 8 }
    out.write(md5, 0, 16)

    if (hasVc) {
      val vc = new java.io.ByteArrayOutputStream(64)
      def le32(v: Int): Unit = {
        vc.write(v & 0xff); vc.write((v >> 8) & 0xff)
        vc.write((v >> 16) & 0xff); vc.write((v >> 24) & 0xff)
      }
      val vb = vendor.getBytes(UTF_8)
      le32(vb.length); vc.write(vb, 0, vb.length)
      le32(comments.length)
      comments.foreach { case (k, v) =>
        val c = s"$k=$v".getBytes(UTF_8)
        le32(c.length); vc.write(c, 0, c.length)
      }
      val vcb = vc.toByteArray
      blockHeader(4, vcb.length, last = !hasPad)
      out.write(vcb, 0, vcb.length)
    }
    if (hasPad) {
      blockHeader(1, paddingBytes, last = true)
      out.write(new Array[Byte](paddingBytes), 0, paddingBytes)
    }
    out.toByteArray
  }

  // -------------------------------------------------------------- read --

  def read(bytes: Array[Byte]): FlacMeta = {
    if (bytes.length < 4 || bytes(0) != 'f' || bytes(1) != 'L' ||
      bytes(2) != 'a' || bytes(3) != 'C') fail("bad_magic", "missing fLaC")
    var pos = 4
    def need(n: Int): Unit =
      if (pos + n > bytes.length) fail("truncated", s"need $n at $pos")
    var sampleRate = 0
    var channels = 0
    var bps = 0
    var totalSamples = 0L
    var md5 = ""
    var vendor = ""
    var comments = Vector.empty[(String, String)]
    var nBlocks = 0
    var padding = 0L
    var last = false
    var first = true
    while (!last) {
      need(4)
      val h = bytes(pos) & 0xff
      last = (h & 0x80) != 0
      val typ = h & 0x7f
      val len = ((bytes(pos + 1) & 0xff) << 16) | ((bytes(pos + 2) & 0xff) << 8) |
        (bytes(pos + 3) & 0xff)
      pos += 4
      if (typ == 127) fail("bad_streaminfo", "invalid block type 127")
      if (len > graft.core.Budget.maxInflatedBytes) fail("too_large", s"block $len")
      need(len)
      if (first) {
        if (typ != 0 || len != 34) fail("bad_streaminfo", s"first block type $typ len $len")
        var packed = 0L
        var i = 0
        while (i < 8) { packed = (packed << 8) | (bytes(pos + 10 + i) & 0xff); i += 1 }
        sampleRate = (packed >>> 44).toInt
        channels = ((packed >>> 41) & 0x7).toInt + 1
        bps = ((packed >>> 36) & 0x1f).toInt + 1
        totalSamples = packed & ((1L << 36) - 1)
        if (sampleRate == 0) fail("bad_streaminfo", "sample rate 0")
        md5 = (0 until 16).map(i => f"${bytes(pos + 18 + i) & 0xff}%02x").mkString
        first = false
      } else typ match {
        case 4 =>
          // vorbis comment: little-endian length-prefixed strings
          var p = pos
          val end = pos + len
          def le32(): Int = {
            if (p + 4 > end) fail("bad_comment", "comment header past block")
            val v = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) |
              ((bytes(p + 2) & 0xff) << 16) | ((bytes(p + 3) & 0xff) << 24)
            p += 4; v
          }
          def str(n: Int): String = {
            if (n < 0 || p + n > end) fail("bad_comment", s"comment string $n")
            val s = new String(bytes, p, n, UTF_8); p += n; s
          }
          vendor = str(le32())
          val n = le32()
          if (n < 0 || n > len) fail("bad_comment", s"comment count $n")
          comments = Vector.tabulate(n) { _ =>
            val c = str(le32())
            val eq = c.indexOf('=')
            if (eq < 0) fail("bad_comment", s"no '=' in $c")
            (c.substring(0, eq).toUpperCase, c.substring(eq + 1))
          }
        case 1 => padding += len
        case _ => () // SEEKTABLE/CUESHEET/PICTURE/APPLICATION: counted only
      }
      pos += len
      nBlocks += 1
    }
    FlacMeta(sampleRate, channels, bps, totalSamples, md5, vendor,
      comments, nBlocks, padding)
  }

  def readSafe(bytes: Array[Byte]): Either[String, FlacMeta] =
    Refusal.attempt(read(bytes), "bad_streaminfo")
}
