package graft.tools

import scala.util.Try

/** Differential mutant-parity check for the USTAR and WAV readers against
  * python tarfile / wave verdicts (tools/tarwav_mutant_parity.py).
  *
  * Usage: runMain graft.tools.TarWavParity /tmp/tarwav_parity tar|wav
  */
object TarWavParity {

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private def canonTar(es: Seq[graft.ops.Tar.TarEntry]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    es.foreach { e =>
      md.update((e.name + "|" + sha(e.body) + "|#")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  private def canonWav(b: Array[Byte]): String = {
    val hd = graft.ops.Wav.parse(b)
    if (hd.isFloat) throw new IllegalArgumentException("float wav (unmodeled)")
    val frames = java.util.Arrays.copyOfRange(b, hd.dataOff,
      hd.dataOff + hd.dataLen)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(s"${hd.channels}|${hd.sampleRate}|${hd.bitsPerSample}|${hd.nSamples}|"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(sha(frames).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val which = args(1)
    val decode: Array[Byte] => Either[String, String] = which match {
      case "tar" =>
        b => graft.ops.Tar.readSafe(b).map(canonTar)
      case "wav" =>
        b => Try(canonWav(b)).toEither.left.map(_.getMessage)
      case o => sys.error(s"unknown $o")
    }
    val bases = scala.collection.mutable.Map[Int, Array[Byte]]()
    def base(i: Int): Array[Byte] =
      bases.getOrElseUpdate(i, java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/${which}_$i.bin")))

    var total = 0L
    var agreeOk = 0L
    var agreeFail = 0L
    var weRefuse = 0L
    var weAccept = 0L
    var weAcceptSlack = 0L
    var policyTruncated = 0L // python's silent-truncation leniency
    var hashMismatch = 0L
    val refuseKinds = scala.collection.mutable.Map[String, Long]()
    val examples = scala.collection.mutable.ArrayBuffer[String]()
    val baseCanon = scala.collection.mutable.Map[Int, String]()

    val src = scala.io.Source.fromFile(s"$dir/$which.tsv")
    try {
      for (line <- src.getLines() if line.nonEmpty) {
        val f = line.split('\t')
        val (i, pos, x, verdict) = (f(0).toInt, f(1).toInt, f(2).toInt, f(3))
        val m = base(i).clone()
        m(pos) = (m(pos) ^ x).toByte
        total += 1
        (decode(m), verdict) match {
          case (Right(c), "ok") =>
            if (c == f(4)) agreeOk += 1
            else {
              val bc = baseCanon.getOrElseUpdate(i, decode(base(i)).toOption.get)
              if (c == bc)
                // python silently TRUNCATED the member list (tarfile
                // swallows an invalid non-first header as EOF) while our
                // decode equals the base — the principled side
                policyTruncated += 1
              else {
                hashMismatch += 1
                if (examples.size < 12) examples.prepend(s"HASH i=$i pos=$pos x=$x")
              }
            }
          case (Left(_), "fail") => agreeFail += 1
          case (Left(k), _) =>
            weRefuse += 1
            refuseKinds(k) = refuseKinds.getOrElse(k, 0L) + 1
            if (examples.size < 12) examples += s"REFUSE($k) i=$i pos=$pos x=$x"
          case (Right(c), _) =>
            val bc = baseCanon.getOrElseUpdate(i, decode(base(i)).toOption.get)
            if (c == bc) weAcceptSlack += 1
            else {
              weAccept += 1
              if (examples.size < 12) examples += s"ACCEPT-BAD i=$i pos=$pos x=$x"
            }
        }
      }
    } finally src.close()

    println(s"""{"metric":"${which}_mutant_parity","total":$total,""" +
      s""""agree_ok":$agreeOk,"agree_fail":$agreeFail,""" +
      s""""we_refuse_they_ok":$weRefuse,"we_ok_they_refuse":$weAccept,""" +
      s""""we_accept_slack":$weAcceptSlack,""" +
      s""""policy_py_truncated":$policyTruncated,"hash_mismatch":$hashMismatch}""")
    refuseKinds.toSeq.sortBy(-_._2).foreach { case (k, n) =>
      println(s"  refuse kind: $k x$n")
    }
    examples.foreach(e => println(s"  disagree: $e"))
    if (weAccept + hashMismatch > 0) sys.exit(1)
  }
}
