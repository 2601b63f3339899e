package graft.ops

/** Subtitle/caption parsing (round 16): SRT (the de-facto SubRip text
  * format) and WebVTT (the W3C standard HTML5 caption format) — the
  * text half of a video-caption training pair. A crawl-scale caption
  * pipeline reads these to align transcript text with media timestamps
  * (CLIP-style pairs, ASR supervision, dubbing corpora); the operators
  * here recover cues (start/end ms + text), coverage, and ordering.
  *
  * Grammar (public specs: SubRip's conventional format; W3C WebVTT):
  *   SRT   — blank-line-separated blocks: integer index line,
  *           `HH:MM:SS,mmm --> HH:MM:SS,mmm` timing (comma decimal),
  *           ≥1 text lines.
  *   WebVTT — optional BOM, `WEBVTT` header line (optional trailing
  *           text), then blocks: NOTE/STYLE/REGION blocks are skipped,
  *           cues are an OPTIONAL id line (any line without `-->`) +
  *           `[HH:]MM:SS.mmm --> [HH:]MM:SS.mmm` timing (dot decimal,
  *           hours optional, optional cue settings after the end time)
  *           + text lines.
  *
  * Strictness (the family contract): malformed timings, minutes/seconds
  * ≥ 60, end ≤ start, empty cue text, or a non-integer SRT index refuse
  * typed (`bad_cue`) rather than mis-aligning a corpus; CRLF and LF both
  * accepted; trailing blank lines ignored.
  */
object Subtitles {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_cue", msg)

  final case class Cue(startMs: Long, endMs: Long, text: String)

  final case class Cues(cues: Vector[Cue]) {
    def coverageMs: Long = cues.iterator.map(c => c.endMs - c.startMs).sum
    def textChars: Long = cues.iterator.map(_.text.length.toLong).sum
    /** cues whose start precedes the previous cue's start (disordered) */
    def nDisordered: Long =
      cues.iterator.sliding(2).withPartial(false)
        .count(w => w(1).startMs < w(0).startMs)
  }

  private val SrtTiming =
    """(\d{2,}):(\d{2}):(\d{2}),(\d{3})\s*-->\s*(\d{2,}):(\d{2}):(\d{2}),(\d{3})""".r
  private val VttTiming =
    ("""(?:(\d+):)?(\d{2}):(\d{2})\.(\d{3})\s*-->\s*""" +
      """(?:(\d+):)?(\d{2}):(\d{2})\.(\d{3})(?:[ \t].*)?""").r

  private def ms(h: String, m: String, s: String, f: String): Long = {
    val hh = if (h == null) 0L else h.toLong
    val mm = m.toLong
    val ss = s.toLong
    if (mm >= 60 || ss >= 60) bad(s"timing component out of range: $m:$s")
    hh * 3600000L + mm * 60000L + ss * 1000L + f.toLong
  }

  private def blocks(text: String): Vector[Vector[String]] = {
    val lines = text.split("\r\n|\n|\r", -1).toVector
    val out = Vector.newBuilder[Vector[String]]
    var cur = Vector.newBuilder[String]
    var nonEmpty = false
    lines.foreach { l =>
      if (l.trim.isEmpty) {
        if (nonEmpty) { out += cur.result(); cur = Vector.newBuilder; nonEmpty = false }
      } else { cur += l; nonEmpty = true }
    }
    if (nonEmpty) out += cur.result()
    out.result()
  }

  // --------------------------------------------------------------- srt --

  def parseSrt(text: String): Cues = {
    val cues = blocks(text).map { b =>
      if (b.length < 3) bad(s"srt block of ${b.length} lines")
      if (!b(0).trim.forall(_.isDigit) || b(0).trim.isEmpty)
        bad(s"srt index line '${b(0)}'")
      val (s0, e0) = b(1).trim match {
        case SrtTiming(h1, m1, s1, f1, h2, m2, s2, f2) =>
          (ms(h1, m1, s1, f1), ms(h2, m2, s2, f2))
        case other => bad(s"srt timing line '$other'")
      }
      if (e0 <= s0) bad(s"srt cue ends before it starts: $s0 -> $e0")
      Cue(s0, e0, b.drop(2).mkString("\n"))
    }
    Cues(cues)
  }

  def renderSrt(cues: Seq[Cue]): String = {
    def t(v: Long): String =
      f"${v / 3600000}%02d:${v / 60000 % 60}%02d:${v / 1000 % 60}%02d,${v % 1000}%03d"
    cues.zipWithIndex.map { case (c, i) =>
      s"${i + 1}\n${t(c.startMs)} --> ${t(c.endMs)}\n${c.text}"
    }.mkString("", "\n\n", "\n")
  }

  // ------------------------------------------------------------- webvtt --

  def parseVtt(text: String): Cues = {
    val body = if (text.nonEmpty && text.charAt(0) == '\uFEFF') text.substring(1) else text
    val bs = blocks(body)
    if (bs.isEmpty || !(bs.head.head == "WEBVTT" ||
        bs.head.head.startsWith("WEBVTT ") || bs.head.head.startsWith("WEBVTT\t")))
      bad("missing WEBVTT header")
    // the header block may carry metadata lines; cues start at block 2
    val cues = bs.tail.filterNot { b =>
      // a comment block is NOTE followed by whitespace or end-of-line —
      // a cue ID that merely STARTS with "NOTE" (e.g. "NOTES-ch1") is a
      // cue, not a comment (round-16 review find: silent cue loss)
      b.head == "NOTE" || b.head.startsWith("NOTE ") ||
        b.head.startsWith("NOTE\t") || b.head == "STYLE" || b.head == "REGION"
    }.map { b =>
      // optional cue id: a first line without "-->"
      val (timing, rest) =
        if (b.head.contains("-->")) (b.head, b.tail)
        else {
          if (b.length < 2) bad(s"vtt cue with only an id line")
          (b(1), b.drop(2))
        }
      val (s0, e0) = timing.trim match {
        case VttTiming(h1, m1, s1, f1, h2, m2, s2, f2) =>
          (ms(h1, m1, s1, f1), ms(h2, m2, s2, f2))
        case other => bad(s"vtt timing line '$other'")
      }
      if (e0 <= s0) bad(s"vtt cue ends before it starts: $s0 -> $e0")
      if (rest.isEmpty) bad("vtt cue with no text")
      Cue(s0, e0, rest.mkString("\n"))
    }
    Cues(cues)
  }

  def renderVtt(cues: Seq[Cue], withIds: Boolean = false): String = {
    def t(v: Long): String =
      f"${v / 3600000}%02d:${v / 60000 % 60}%02d:${v / 1000 % 60}%02d.${v % 1000}%03d"
    val body = cues.zipWithIndex.map { case (c, i) =>
      val id = if (withIds) s"cue-${i + 1}\n" else ""
      s"$id${t(c.startMs)} --> ${t(c.endMs)}\n${c.text}"
    }.mkString("\n\n")
    s"WEBVTT\n\n$body\n"
  }

  // ---------------------------------------------------------- ass/ssa --

  /** ASS/SSA (SubStation Alpha v4 / v4+) — the dominant third caption
    * format in video-pair corpora (anime/fansub archives especially).
    * Grammar (public spec + libass/pysubs2 behavior): `[Section]`
    * headers; in `[Events]` a `Format:` line names the comma-separated
    * fields (SSA leads with `Marked`, ASS with `Layer`; `Text` is last
    * because it may contain commas), then `Dialogue:` lines carry cues
    * (`Comment:`/`Picture:`/`Sound:`/`Movie:`/`Command:` events and `;`
    * comment lines are skipped). Timestamps are `H:MM:SS.CC`
    * (centiseconds). The text channel strips `{...}` override blocks
    * and maps `\N`/`\n` → newline and `\h` (hard space) → a plain
    * space — the libass/pysubs2 plaintext convention with the NBSP
    * normalized, since downstream corpus text treats both as spaces.
    *
    * Strictness (family contract): a missing `[Events]` section, a
    * `Dialogue:` before its `Format:`, a field-count mismatch, `Text`
    * not last, malformed timestamps, out-of-range minute/second/
    * centisecond components, or a cue ending before it starts refuse
    * typed (`bad_cue`).
    */
  def parseAss(text: String): Cues = {
    val body = if (text.nonEmpty && text.charAt(0) == '\uFEFF') text.substring(1) else text
    val lines = body.split("\r\n|\n|\r", -1)
    var inEvents = false
    var fields: Array[String] = null
    var textIdx = -1
    val cues = Vector.newBuilder[Cue]
    lines.foreach { raw =>
      val line = raw.trim
      if (line.startsWith("[")) {
        inEvents = line.equalsIgnoreCase("[Events]")
      } else if (inEvents && line.nonEmpty && !line.startsWith(";")) {
        val colon = line.indexOf(':')
        val key = if (colon < 0) "" else line.substring(0, colon).trim
        val rest = if (colon < 0) "" else line.substring(colon + 1)
        key match {
          case "Format" =>
            fields = rest.split(",", -1).map(_.trim)
            textIdx = fields.indexWhere(_.equalsIgnoreCase("Text"))
            if (textIdx < 0) bad("events Format line without a Text field")
            if (textIdx != fields.length - 1)
              bad("Text must be the last Format field (it carries commas)")
          case "Dialogue" =>
            if (fields == null) bad("Dialogue before the events Format line")
            // split into n-1 leading fields + the raw Text remainder
            val parts = rest.split(",", fields.length)
            if (parts.length != fields.length)
              bad(s"dialogue with ${parts.length} of ${fields.length} fields")
            var s0 = -1L
            var e0 = -1L
            var i = 0
            while (i < fields.length - 1) {
              val f = fields(i)
              if (f.equalsIgnoreCase("Start")) s0 = assMs(parts(i).trim)
              else if (f.equalsIgnoreCase("End")) e0 = assMs(parts(i).trim)
              i += 1
            }
            if (s0 < 0 || e0 < 0) bad("dialogue without Start/End fields")
            if (e0 <= s0) bad(s"ass cue ends before it starts: $s0 -> $e0")
            cues += Cue(s0, e0, assText(parts(textIdx)))
          case _ => () // Comment/Picture/Sound/Movie/Command, style lines
        }
      }
    }
    if (fields == null) bad("no [Events] Format line")
    Cues(cues.result())
  }

  private val AssTiming = """(\d+):(\d{2}):(\d{2})\.(\d{2})""".r

  private def assMs(t: String): Long = t match {
    case AssTiming(h, m, s, c) =>
      if (m.toLong >= 60 || s.toLong >= 60)
        bad(s"timing component out of range: $m:$s")
      h.toLong * 3600000L + m.toLong * 60000L + s.toLong * 1000L +
        c.toLong * 10L
    case other => bad(s"ass timestamp '$other'")
  }

  /** strip {...} override blocks; \N, \n → newline; \h → NBSP */
  private def assText(raw: String): String = {
    val out = new java.lang.StringBuilder(raw.length)
    var i = 0
    var depth = 0
    while (i < raw.length) {
      val ch = raw.charAt(i)
      if (ch == '{') depth += 1
      else if (ch == '}') { if (depth > 0) depth -= 1 else out.append(ch) }
      else if (depth == 0) {
        if (ch == '\\' && i + 1 < raw.length) {
          raw.charAt(i + 1) match {
            case 'N' | 'n' => out.append('\n'); i += 1
            case 'h' => out.append(' '); i += 1
            case _ => out.append(ch)
          }
        } else out.append(ch)
      }
      i += 1
    }
    out.toString
  }

  /** Deterministic ASS writer (the fixture/round-trip twin): v4+ head,
    * one Dialogue per cue with newlines rendered `\N`. Text containing
    * `{`/`}` is escaped into override-safe form by pysubs2 convention
    * (`{` → `\{` is NOT standard — instead real emitters leave braces
    * out of plain text; the writer refuses them to stay round-trip-safe).
    */
  def renderAss(cues: Seq[Cue]): String = {
    def t(v: Long): String =
      f"${v / 3600000}%d:${v / 60000 % 60}%02d:${v / 1000 % 60}%02d.${v % 1000 / 10}%02d"
    val head =
      "[Script Info]\nScriptType: v4.00+\nPlayResX: 640\nPlayResY: 480\n\n" +
        "[V4+ Styles]\nFormat: Name, Fontname, Fontsize, PrimaryColour\n" +
        "Style: Default,Arial,20,&H00FFFFFF\n\n" +
        "[Events]\nFormat: Layer, Start, End, Style, Name, MarginL, MarginR, MarginV, Effect, Text\n"
    val body = cues.map { c =>
      require(!c.text.exists(ch => ch == '{' || ch == '}'),
        "braces in cue text are not round-trip-safe")
      val txt = c.text.replace("\n", "\\N")
      s"Dialogue: 0,${t(c.startMs)},${t(c.endMs)},Default,,0,0,0,,$txt"
    }.mkString("\n")
    head + body + "\n"
  }

  def parseAssSafe(text: String): Either[String, Cues] =
    Refusal.attempt(parseAss(text), "bad_cue")

  def parseSrtSafe(text: String): Either[String, Cues] =
    Refusal.attempt(parseSrt(text), "bad_cue")

  def parseVttSafe(text: String): Either[String, Cues] =
    Refusal.attempt(parseVtt(text), "bad_cue")
}
