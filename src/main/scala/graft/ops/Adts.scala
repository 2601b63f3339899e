package graft.ops

/** ADTS-framed AAC audio (ISO/IEC 13818-7 §6.2 / 14496-3 §1.A.3 —
  * public bitstream layout): the other ubiquitous crawl audio next to
  * MP3/Ogg — raw `.aac` dumps, HLS segments, and the payload of most
  * `audio/aac` attachments. A crawl-scale audio pipeline walks the frame
  * sequence to recover codec parameters and duration and to audit
  * integrity; the AAC payload itself stays opaque (entropy-coded
  * spectral data — decode is out of scope the same way MP3 Layer III
  * PCM is, see mm05).
  *
  * Frame header (7 bytes, 9 with the optional CRC):
  *   syncword 0xFFF (12) | ID (1) | layer (2, MUST be 0) |
  *   protection_absent (1) | profile (2) | sampling_frequency_index (4) |
  *   private (1) | channel_configuration (3) | original (1) | home (1) |
  *   copyright_id_bit (1) | copyright_id_start (1) | frame_length (13,
  *   header + CRC + payload) | buffer_fullness (11) |
  *   number_of_raw_data_blocks_in_frame (2)
  *
  * Strictness (the mm-family fail-stop contract): a bad syncword, a
  * nonzero layer, a reserved sampling-frequency index, a frame length
  * shorter than its own header, or a mid-stream change of profile/
  * rate/channels refuses typed (`bad_frame` / `truncated`) — real
  * encoders never vary those per frame, so a change is rot, not
  * variation. The 16-bit CRC bytes are skipped, not validated (its
  * coverage spans per-raw-data-block positions most demuxers don't
  * check either); integrity is audited structurally. Each frame carries
  * 1024 samples per raw data block.
  */
object Adts {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_frame", msg)

  /** sampling_frequency_index → Hz (13 entries; 13/14 reserved, 15 is
    * the explicit-frequency escape ADTS forbids)
    */
  private val SampleRates: Array[Int] = Array(
    96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350)

  private val Profiles: Array[String] = Array("Main", "LC", "SSR", "LTP")

  final case class AdtsMeta(
      mpegVersion: Int, // 4 (ID=0) or 2 (ID=1)
      profile: String,
      sampleRate: Int,
      channels: Int, // from channel_configuration (1-7; 0 refuses)
      crcFrames: Long, // frames carrying the CRC header form
      nFrames: Long,
      nSamples: Long,
      payloadBytes: Long) {
    def durationMs: Long =
      if (sampleRate == 0) 0L else nSamples * 1000L / sampleRate
  }

  def parse(bytes: Array[Byte]): AdtsMeta = {
    def u8(p: Int): Int = bytes(p) & 0xff
    if (bytes.length < 7) throw new Refusal("truncated",
      s"${bytes.length} bytes is shorter than one ADTS header")
    var p = 0
    var mpegVersion = 0
    var profile = -1
    var sfi = -1
    var channels = -1
    var crcFrames = 0L
    var nFrames = 0L
    var nSamples = 0L
    var payloadBytes = 0L
    while (p < bytes.length) {
      if (p + 7 > bytes.length)
        throw new Refusal("truncated", s"header at $p crosses the end")
      if (u8(p) != 0xff || (u8(p + 1) & 0xf0) != 0xf0)
        bad(f"no syncword at $p: 0x${u8(p)}%02x${u8(p + 1)}%02x")
      val id = (u8(p + 1) >> 3) & 1
      val layer = (u8(p + 1) >> 1) & 3
      if (layer != 0) bad(s"layer $layer at $p (ADTS requires 0)")
      val protectionAbsent = u8(p + 1) & 1
      val prof = (u8(p + 2) >> 6) & 3
      val fIdx = (u8(p + 2) >> 2) & 0xf
      if (fIdx >= SampleRates.length) bad(s"reserved sampling index $fIdx at $p")
      val chanCfg = ((u8(p + 2) & 1) << 2) | ((u8(p + 3) >> 6) & 3)
      if (chanCfg == 0)
        bad(s"channel_configuration 0 at $p (PCE-configured streams unsupported)")
      val frameLen = ((u8(p + 3) & 3) << 11) | (u8(p + 4) << 3) |
        ((u8(p + 5) >> 5) & 7)
      val rdb = u8(p + 6) & 3
      val headerLen = if (protectionAbsent == 1) 7 else 9
      if (frameLen < headerLen)
        bad(s"frame length $frameLen shorter than its $headerLen-byte header at $p")
      if (p + frameLen > bytes.length)
        throw new Refusal("truncated", s"frame at $p of $frameLen bytes")
      if (nFrames == 0L) {
        mpegVersion = if (id == 0) 4 else 2
        profile = prof; sfi = fIdx; channels = chanCfg
      } else if (prof != profile || fIdx != sfi || chanCfg != channels ||
          (if (id == 0) 4 else 2) != mpegVersion)
        bad(s"stream parameters change at frame $nFrames (offset $p)")
      if (protectionAbsent == 0) crcFrames += 1
      nFrames += 1
      nSamples += 1024L * (rdb + 1)
      payloadBytes += frameLen - headerLen
      p += frameLen
    }
    if (nFrames == 0) bad("no ADTS frames")
    AdtsMeta(mpegVersion, Profiles(profile), SampleRates(sfi), channels,
      crcFrames, nFrames, nSamples, payloadBytes)
  }

  def parseSafe(bytes: Array[Byte]): Either[String, AdtsMeta] =
    Refusal.attempt(parse(bytes), "bad_frame")

  // ------------------------------------------------------------- write --

  /** Deterministic ADTS writer (the fixture/round-trip twin): one frame
    * per entry of `(payloadLen, withCrc, rdb)`, payload bytes from the
    * supplied generator. sfIdx/chanCfg/profile fixed per stream like a
    * real encoder.
    */
  def write(mpeg4: Boolean, profile: Int, sfIdx: Int, chanCfg: Int,
      frames: Seq[(Int, Boolean, Int)],
      gen: (Int, Int) => Byte): Array[Byte] = {
    require(profile >= 0 && profile <= 3 && sfIdx >= 0 &&
      sfIdx < SampleRates.length && chanCfg >= 1 && chanCfg <= 7)
    val out = new java.io.ByteArrayOutputStream(1024)
    frames.zipWithIndex.foreach { case ((payloadLen, withCrc, rdb), fi) =>
      require(rdb >= 0 && rdb <= 3 && payloadLen >= 0)
      val headerLen = if (withCrc) 9 else 7
      val frameLen = headerLen + payloadLen
      require(frameLen < (1 << 13), s"frame length $frameLen overflows 13 bits")
      val h = new Array[Byte](headerLen)
      h(0) = 0xff.toByte
      h(1) = (0xf0 | ((if (mpeg4) 0 else 1) << 3) |
        (if (withCrc) 0 else 1)).toByte
      h(2) = ((profile << 6) | (sfIdx << 2) | ((chanCfg >> 2) & 1)).toByte
      h(3) = (((chanCfg & 3) << 6) | ((frameLen >> 11) & 3)).toByte
      h(4) = ((frameLen >> 3) & 0xff).toByte
      h(5) = (((frameLen & 7) << 5) | 0x1f).toByte // fullness high bits
      h(6) = (0xfc | rdb).toByte // fullness low + raw data blocks
      // CRC bytes: present-but-unvalidated form (deterministic zeros)
      out.write(h)
      var i = 0
      while (i < payloadLen) { out.write(gen(fi, i) & 0xff); i += 1 }
    }
    out.toByteArray
  }
}
