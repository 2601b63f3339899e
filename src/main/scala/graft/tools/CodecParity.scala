package graft.tools

import scala.util.Try

import graft.core.Refusal

/** Differential mutant-parity check for the gzip / bzip2 / xz readers
  * against the verdicts recorded by tools/codec_mutant_parity.py (python
  * stdlib zlib / bz2 / lzma as the reference): for every single-byte XOR
  * mutant of every base stream, agree on accept-vs-refuse and, when both
  * accept, on the decoded bytes. The brotli harness of the same shape
  * caught a real conformance bug; this closes the loop for the rest of
  * the compression family.
  *
  * Usage: runMain graft.tools.CodecParity /tmp/codec_parity <codec>
  * Exit 1 on any disagreement.
  */
object CodecParity {

  /** Our decoder's verdict in a parity replay: the output, the refusal's
    * message, or `raw:<class>` for any other exception — a decoder bug,
    * never an agreement.
    */
  private[tools] def ours(body: => Array[Byte]): Either[String, Array[Byte]] =
    Try(body).toEither.left.map {
      case e: Refusal => e.getMessage
      case e => s"raw:${e.getClass.getSimpleName}"
    }

  /** One TSV row of the reference verdicts: base stream, byte position,
    * XOR mask, whether the reference decoder accepted the mutant, and the
    * SHA-256 of its output when it did.
    */
  private[tools] def row(line: String, lineNo: Int): (Int, Int, Int, Boolean, String) = {
    val f = line.split('\t')
    val refOk = f(3) match {
      case "ok" => true
      case "fail" => false
      case v => throw new IllegalArgumentException(
        s"line $lineNo: reference verdict '$v' is neither ok nor fail")
    }
    (f(0).toInt, f(1).toInt, f(2).toInt, refOk, f.lift(4).getOrElse(""))
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val codec = args(1)
    val decode: Array[Byte] => Either[String, Array[Byte]] = codec match {
      case "gzip" =>
        b => ours {
          val ms = graft.ops.Warc.gunzipMembers(b)
          val out = new java.io.ByteArrayOutputStream()
          ms.foreach(m => out.write(m, 0, m.length))
          out.toByteArray
        }
      case "bzip2" =>
        b => ours(graft.ops.Bzip2.decompress(b))
      case "xz" =>
        b => ours(graft.ops.Xz.decompress(b))
      case other => sys.error(s"unknown codec $other")
    }

    val bases = scala.collection.mutable.Map[Int, Array[Byte]]()
    def base(i: Int): Array[Byte] =
      bases.getOrElseUpdate(i, java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/${codec}_$i.bin")))
    def sha256(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString

    var total = 0L
    var agreeOk = 0L
    var agreeFail = 0L
    var weRefuse = 0L
    var weAccept = 0L
    var hashMismatch = 0L
    var raw = 0L
    var policyPlain = 0L // gzip: documented plain-.warc passthrough
    val examples = scala.collection.mutable.ArrayBuffer[String]()

    val src = scala.io.Source.fromFile(s"$dir/$codec.tsv")
    try {
      for ((line, n) <- src.getLines().zipWithIndex if line.nonEmpty) {
        val (i, pos, x, refOk, refSha) = row(line, n + 1)
        val m = base(i).clone()
        m(pos) = (m(pos) ^ x).toByte
        total += 1
        (decode(m), refOk) match {
          case (Right(out), true) =>
            if (sha256(out) == refSha) agreeOk += 1
            else {
              hashMismatch += 1
              if (examples.size < 12) examples += s"HASH i=$i pos=$pos x=$x"
            }
          case (Left(msg), false) =>
            agreeFail += 1
            if (msg.startsWith("raw:")) {
              raw += 1
              if (examples.size < 12) examples += s"RAW($msg) i=$i pos=$pos x=$x"
            }
          case (Left(k), true) =>
            weRefuse += 1
            if (examples.size < 12) examples += s"REFUSE($k) i=$i pos=$pos x=$x"
          case (Right(out), false)
              if codec == "gzip" && java.util.Arrays.equals(out, m) =>
            // gunzipMembers returns non-gzip input whole BY DESIGN (dual
            // .warc/.warc.gz acceptance) — a magic-byte mutant lands here
            policyPlain += 1
          case (Right(_), false) =>
            weAccept += 1
            if (examples.size < 12) examples += s"ACCEPT i=$i pos=$pos x=$x"
        }
      }
    } finally src.close()

    println(s"""{"metric":"${codec}_mutant_parity","total":$total,""" +
      s""""agree_ok":$agreeOk,"agree_fail":$agreeFail,""" +
      s""""we_refuse_they_ok":$weRefuse,"we_ok_they_refuse":$weAccept,""" +
      s""""hash_mismatch":$hashMismatch,"raw_throws":$raw,""" +
      s""""policy_plain_passthrough":$policyPlain}""")
    examples.foreach(e => println(s"  disagree: $e"))
    if (weRefuse + weAccept + hashMismatch + raw > 0) sys.exit(1)
  }
}
