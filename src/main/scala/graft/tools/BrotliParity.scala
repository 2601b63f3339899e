package graft.tools

/** Differential mutant-parity check for [[graft.ops.Brotli]]: replays the
  * libbrotli verdicts recorded by tools/brotli_mutant_parity.py — for
  * every single-byte XOR mutant of every .br fixture, our decoder must
  * agree with libbrotli on accept-vs-refuse AND, when both accept, on
  * the decoded bytes (sha256). This closes the gap the "typed or
  * decodes" sweep leaves open: a reader bug that silently accepts a
  * stream libbrotli rejects, or emits different bytes on a stream both
  * accept, fails here byte-exactly.
  *
  * Usage: runMain graft.tools.BrotliParity /tmp/brotli_mutant_parity.tsv
  * Exit 1 on any disagreement; prints per-class counts.
  */
object BrotliParity {

  def main(args: Array[String]): Unit = {
    val tsv = args.headOption.getOrElse("/tmp/brotli_mutant_parity.tsv")
    // read from the source tree (test resources are not on this main's
    // classpath; the tool runs from the repo root)
    val fixtures = scala.collection.mutable.Map[String, Array[Byte]]()
    def fixture(name: String): Array[Byte] =
      fixtures.getOrElseUpdate(name, java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"src/test/resources/fixtures/$name")))
    def sha256(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString

    var total = 0L
    var agreeOk = 0L
    var agreeFail = 0L
    var policyTrailing = 0L // they decode ignoring trailing bytes, we refuse
    var weRefuseTheyOk = 0L
    var weOkTheyRefuse = 0L
    var hashMismatch = 0L
    val examples = scala.collection.mutable.ArrayBuffer[String]()

    val src = scala.io.Source.fromFile(tsv)
    try {
      for (line <- src.getLines() if line.nonEmpty) {
        val f = line.split('\t')
        val (name, pos, x, verdict) = (f(0), f(1).toInt, f(2).toInt, f(3))
        val m = fixture(name).clone()
        m(pos) = (m(pos) ^ x).toByte
        total += 1
        // keep the refusal MESSAGE: an ok_trailing mutant must be refused
        // specifically by the trailing-garbage gate, not masked by some
        // earlier mis-parse (libbrotli proves the stream prefix is valid)
        val ours = CodecParity.ours(graft.ops.Brotli.decompress(m))
        (ours, verdict) match {
          case (Right(out), "ok") =>
            if (sha256(out) == f(4)) agreeOk += 1
            else {
              hashMismatch += 1
              if (examples.size < 10) examples += s"HASH $name pos=$pos x=$x"
            }
          case (Left(_), "fail") => agreeFail += 1
          case (Left(msg), "ok_trailing") if msg.contains("trailing garbage") =>
            // documented policy split: libbrotli's streaming decoder stops
            // at the final meta-block and leaves unused bytes; our reader
            // refuses trailing garbage (BrotliSpec pins that choice)
            policyTrailing += 1
          case (Left(k), _) =>
            weRefuseTheyOk += 1
            if (examples.size < 10) examples += s"REFUSE($k) $name pos=$pos x=$x"
          case (Right(out), "ok_trailing") =>
            // we accepted a stream libbrotli says has trailing bytes —
            // that would mean our end-of-stream detection diverges
            weOkTheyRefuse += 1
            if (examples.size < 10) examples += s"ACCEPT-TRAIL $name pos=$pos x=$x"
          case (Right(_), _) =>
            weOkTheyRefuse += 1
            if (examples.size < 10) examples += s"ACCEPT $name pos=$pos x=$x"
        }
      }
    } finally src.close()

    println(s"""{"metric":"brotli_mutant_parity","total":$total,""" +
      s""""agree_ok":$agreeOk,"agree_fail":$agreeFail,""" +
      s""""policy_trailing":$policyTrailing,""" +
      s""""we_refuse_they_ok":$weRefuseTheyOk,""" +
      s""""we_ok_they_refuse":$weOkTheyRefuse,"hash_mismatch":$hashMismatch}""")
    examples.foreach(e => println(s"  disagree: $e"))
    if (weRefuseTheyOk + weOkTheyRefuse + hashMismatch > 0) sys.exit(1)
  }
}
