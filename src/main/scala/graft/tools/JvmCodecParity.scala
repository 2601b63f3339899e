package graft.tools

/** In-JVM differential mutant parity for the hand-rolled snappy decoder
  * and the hand-rolled LZ4 frame walk, against the reference
  * implementations on Spark's own classpath (snappy-java = JNI
  * libsnappy; lz4-java's LZ4FrameInputStream) — the same harness that
  * fixed brotli/gzip/xz/bzip2 this round, with no python side needed:
  * streams are built, mutated, and adjudicated in one JVM.
  *
  * For every single-byte XOR mutant (×4 values) of every base stream
  * (reference-encoded AND our-writer-encoded), both decoders run; they
  * must agree on accept-vs-refuse and on the decoded bytes.
  *
  * Usage: runMain graft.tools.JvmCodecParity [snappy|lz4]
  * Exit 1 on any unexplained disagreement.
  */
object JvmCodecParity {

  private val Xors = Seq(0x01, 0x10, 0x80, 0xff)

  private def incompressible(n: Int): Array[Byte] = {
    var x = 0x13572468
    Array.fill(n) {
      x ^= x << 13; x ^= x >>> 17; x ^= x << 5
      x.toByte
    }
  }

  private val payloads: Seq[Array[Byte]] = Seq(
    Array.emptyByteArray,
    ("hello snappy world " * 40).getBytes("UTF-8"),
    Array.tabulate[Byte](2048)(i => (i % 256).toByte),
    Array.fill[Byte](4096)('a'),
    incompressible(3000),
    // > 64 KiB: forces multi-chunk/multi-block framing in both writers
    ("chunk boundary exercise " * 4000).getBytes("UTF-8"))

  private def refSnappy(b: Array[Byte]): Either[String, Array[Byte]] =
    try {
      val in = new org.xerial.snappy.SnappyFramedInputStream(
        new java.io.ByteArrayInputStream(b), true) // verify checksums
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close()
      Right(out.toByteArray)
    } catch { case e: Exception => Left(e.getClass.getSimpleName) }

  private def refLz4(b: Array[Byte]): Either[String, Array[Byte]] =
    try {
      val in = new net.jpountz.lz4.LZ4FrameInputStream(
        new java.io.ByteArrayInputStream(b))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close()
      Right(out.toByteArray)
    } catch { case e: Exception => Left(e.getClass.getSimpleName) }

  private def oursSnappy(b: Array[Byte]): Either[String, Array[Byte]] =
    CodecParity.ours(graft.ops.Snappy.decompress(b))

  private def oursLz4(b: Array[Byte]): Either[String, Array[Byte]] =
    CodecParity.ours(graft.ops.Zstd.decompressLz4(b))

  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("snappy")
    val (bases, ours, ref): (Seq[Array[Byte]],
        Array[Byte] => Either[String, Array[Byte]],
        Array[Byte] => Either[String, Array[Byte]]) = which match {
      case "snappy" =>
        val refEnc = payloads.map { p =>
          val bos = new java.io.ByteArrayOutputStream()
          val s = new org.xerial.snappy.SnappyFramedOutputStream(bos)
          s.write(p); s.close()
          bos.toByteArray
        }
        val oursEnc = payloads.map(graft.ops.Snappy.compress)
        (refEnc ++ oursEnc, oursSnappy, refSnappy)
      case "lz4" =>
        val refEnc = payloads.map { p =>
          val bos = new java.io.ByteArrayOutputStream()
          val s = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
          s.write(p); s.close()
          bos.toByteArray
        }
        val oursEnc = payloads.map(graft.ops.Zstd.compressLz4)
        (refEnc ++ oursEnc, oursLz4, refLz4)
      case other => sys.error(s"unknown codec $other")
    }

    // both sides must accept every base stream identically
    bases.zipWithIndex.foreach { case (b, i) =>
      (ours(b), ref(b)) match {
        case (Right(a), Right(c)) =>
          require(java.util.Arrays.equals(a, c), s"base $i decode differs")
        case (x, y) => sys.error(s"base $i verdicts: ours=$x ref=$y")
      }
    }

    var total = 0L
    var agreeOk = 0L
    var agreeFail = 0L
    var weRefuse = 0L
    var weAccept = 0L
    var hashMismatch = 0L
    var policyStrict = 0L // lz4: documented lz4-java leniencies (see below)
    val refuseKinds = scala.collection.mutable.Map[String, Long]()
    val acceptAt = scala.collection.mutable.ArrayBuffer[String]()
    for ((b, bi) <- bases.zipWithIndex; pos <- b.indices; x <- Xors) {
      val m = b.clone()
      m(pos) = (m(pos) ^ x).toByte
      total += 1
      (ours(m), ref(m)) match {
        case (Right(a), Right(c)) =>
          if (java.util.Arrays.equals(a, c)) agreeOk += 1
          else {
            hashMismatch += 1
            if (acceptAt.size < 12) acceptAt += s"HASH b=$bi pos=$pos x=$x"
          }
        case (Left(_), Left(_)) => agreeFail += 1
        case (Left(msg), Right(_)) if which == "lz4" &&
            (msg.contains("exceeds the declared maximum") ||
              msg.contains("lz4 frame ends early")) =>
          // documented lz4-java leniencies where we side with the C
          // reference / frame spec: (a) lz4-java allocates whatever a
          // block-size field claims instead of enforcing the BD maximum
          // (a malloc bomb on a 1000-executor scan); (b) lz4-java treats
          // 0x80000000 — a zero-size block with the uncompressed bit —
          // as an EndMark, while liblz4's endmark test is == 0 exactly,
          // so the walk continues and hits EOF (ends-early refusal)
          policyStrict += 1
        case (Left(k), Right(_)) =>
          weRefuse += 1
          refuseKinds(k) = refuseKinds.getOrElse(k, 0L) + 1
          if (acceptAt.size < 12) acceptAt += s"REFUSE($k) b=$bi pos=$pos x=$x"
        case (Right(_), Left(_)) =>
          weAccept += 1
          if (acceptAt.size < 12) acceptAt += s"ACCEPT b=$bi pos=$pos x=$x"
      }
    }
    println(s"""{"metric":"${which}_jvm_mutant_parity","total":$total,""" +
      s""""agree_ok":$agreeOk,"agree_fail":$agreeFail,""" +
      s""""we_refuse_they_ok":$weRefuse,"we_ok_they_refuse":$weAccept,""" +
      s""""hash_mismatch":$hashMismatch,"policy_strict":$policyStrict}""")
    acceptAt.foreach(e => println(s"  disagree: $e"))
    if (weRefuse + weAccept + hashMismatch > 0) sys.exit(1)
  }
}
