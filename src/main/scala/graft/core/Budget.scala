package graft.core

/** Shared decode-amplification budgets (round 12). DEFLATE's ~1032:1 max
  * expansion means a 1 MB crafted gzip member / zip entry / PDF stream can
  * legally demand ~1 GB of heap BEFORE any trailer or CRC check can fail —
  * one such blob per executor is an OOM kill on a large crawl scan, the
  * byte-stream twin of [[graft.ops.Multimodal.MaxDecodePixels]]. Every
  * inflating reader (WARC gzip members, ZIP entries, PDF FlateDecode)
  * checks its OUTPUT size against this budget while inflating and refuses
  * with a typed error the safe scans turn into one error row.
  *
  * A `@volatile var` (seeded from `-Dgraft.io.maxInflatedBytes`) rather
  * than a fixed val so trusted-corpus jobs can raise it at startup and
  * specs can exercise the refusal without building multi-hundred-MB bombs.
  */
object Budget {
  @volatile var maxInflatedBytes: Long =
    sys.props.get("graft.io.maxInflatedBytes").map(_.toLong)
      .getOrElse(256L * 1024 * 1024)

  /** Drains a library decoder stream under the inflate budget, the one
    * capped loop behind the zstd, bzip2 and LZMA readers. `open` runs
    * inside the mapping because the library constructors already read
    * headers. An `IOException` (the libraries' corrupt-input signal)
    * refuses `bad_frame`; more than `cap` bytes of output refuse
    * `too_large`; any other exception is a bug and propagates.
    */
  private[graft] def drain(open: => java.io.InputStream, codec: String,
      cap: Long = maxInflatedBytes): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(4096)
    val buf = new Array[Byte](8192)
    try {
      val in = open
      try {
        var n = in.read(buf)
        while (n > 0) {
          out.write(buf, 0, n)
          if (out.size().toLong > cap)
            throw new Refusal("too_large", s"$codec frame inflates past $cap bytes")
          n = in.read(buf)
        }
      } finally in.close()
    } catch {
      case e: java.io.IOException =>
        throw new Refusal("bad_frame", s"corrupt $codec frame: ${e.getMessage}")
    }
    out.toByteArray
  }
}
