package graft.etl

/** RTF text extraction (round 17 — the legacy-office leg: old document
  * dumps and mail attachments ship `.rtf` heavily): a from-scratch
  * tokenizer over the published RTF 1.9.1 specification, with the
  * extraction semantics of the de-facto python baseline (striprtf):
  *
  *   - control words: `\word` with an optional signed parameter and one
  *     optional space delimiter; control symbols `\X`;
  *   - `\par`/`\line` → `\n`, `\tab` → `\t`, `\{ \} \\` literal,
  *     `\~` → NBSP, `\-`/`\*` handled per spec;
  *   - `\'hh` hex escapes decode in cp1252 (the `\ansi` default);
  *   - `\uN` unicode (signed 16-bit) with `\ucN`-governed fallback
  *     skipping, group-scoped like the spec requires;
  *   - skipped destinations: `{\fonttbl}`, `{\colortbl}`,
  *     `{\stylesheet}`, `{\info}`, `{\pict}`, and every starred
  *     `{\*\...}` group.
  *
  * Typed refusals (`bad_rtf`): no `{\rtf` opener, unbalanced braces,
  * truncated escapes; output is capped by the shared inflate budget.
  */
object RtfText {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_rtf", msg)

  private val SkipDests = Set("fonttbl", "colortbl", "stylesheet", "info",
    "pict", "header", "footer", "headerl", "headerr", "headerf",
    "footerl", "footerr", "footerf", "ftnsep", "ftnsepc", "aftnsep",
    "aftnsepc", "generator", "xmlnstbl", "themedata", "colorschememapping",
    "datastore", "latentstyles", "listtable", "listoverridetable")

  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  def extractSafe(bytes: Array[Byte]): Either[String, String] =
    Refusal.attempt(extract(bytes), "bad_rtf")

  def extract(bytes: Array[Byte]): String = {
    val n = bytes.length
    if (n < 5 || bytes(0) != '{' || bytes(1) != '\\' || bytes(2) != 'r' ||
        bytes(3) != 't' || bytes(4) != 'f')
      bad("input does not open with {\\rtf")
    val cap = graft.core.Budget.maxInflatedBytes
    val out = new java.lang.StringBuilder()
    def grow(k: Int): Unit =
      if (out.length().toLong + k > cap)
        throw new Refusal("too_large", s"rtf text inflates past $cap bytes")

    // group state: (uc skip count, inside-skipped-destination)
    var ucStack = List((1, false))
    var pendingUcSkip = 0
    var i = 0
    var depth = 0

    def skipped: Boolean = ucStack.head._2
    def emit(s: String): Unit =
      if (!skipped) {
        if (pendingUcSkip > 0) pendingUcSkip -= 1
        else { grow(s.length); out.append(s) }
      }

    /** handle one control word; returns extra bytes to skip (\bin). */
    def handleWord(word: String, param: Long, after: Int): Int = {
      if (word == "bin" && param > 0) {
        if (after.toLong + param > n) bad("\\bin run past the end")
        return param.toInt
      }
      if (skipped) return 0
      word match {
        case "par" | "line" | "row" => pendingUcSkip = 0; grow(1); out.append('\n')
        case "tab" | "cell" => pendingUcSkip = 0; grow(1); out.append('\t')
        case "emdash" => pendingUcSkip = 0; grow(1); out.append('\u2014')
        case "endash" => pendingUcSkip = 0; grow(1); out.append('\u2013')
        case "lquote" => pendingUcSkip = 0; grow(1); out.append('\u2018')
        case "rquote" => pendingUcSkip = 0; grow(1); out.append('\u2019')
        case "ldblquote" => pendingUcSkip = 0; grow(1); out.append('\u201c')
        case "rdblquote" => pendingUcSkip = 0; grow(1); out.append('\u201d')
        case "bullet" => pendingUcSkip = 0; grow(1); out.append('\u2022')
        case "uc" =>
          pendingUcSkip = 0
          ucStack = (math.max(0L, math.min(param, 20L)).toInt,
            ucStack.head._2) :: ucStack.tail
        case "u" =>
          if (pendingUcSkip > 0) pendingUcSkip -= 1
          else {
            // signed 16-bit code unit; negatives wrap per spec
            val cp = if (param < 0) param + 65536 else param
            if (cp >= 0 && cp <= 0xFFFF) { grow(1); out.append(cp.toChar) }
            pendingUcSkip = ucStack.head._1
          }
        case w if SkipDests.contains(w) =>
          ucStack = (ucStack.head._1, true) :: ucStack.tail
        case _ => pendingUcSkip = 0 // formatting words contribute nothing
      }
      0
    }

    while (i < n) {
      (bytes(i) & 0xff) match {
        case '{' =>
          depth += 1
          ucStack = ucStack.head :: ucStack
          i += 1
        case '}' =>
          depth -= 1
          if (depth < 0) bad("unbalanced closing brace")
          if (ucStack.tail.isEmpty) bad("group stack underflow")
          ucStack = ucStack.tail
          pendingUcSkip = 0
          i += 1
          // the root group's close ends the document; trailing bytes
          // after it are tolerated (many writers append a final newline)
          if (depth == 0) {
            var j = i
            while (j < n) {
              if (bytes(j) != '\r' && bytes(j) != '\n' && bytes(j) != ' ')
                bad("content after the root group closes")
              j += 1
            }
            i = n
          }
        case '\\' =>
          if (i + 1 >= n) bad("trailing backslash")
          val c = bytes(i + 1) & 0xff
          if (c == '\'') {
            if (i + 3 >= n) bad("truncated \\'hh escape")
            val h = Character.digit(bytes(i + 2), 16)
            val l = Character.digit(bytes(i + 3), 16)
            if (h < 0 || l < 0) bad("non-hex \\'hh escape")
            emit(new String(Array(((h << 4) | l).toByte), Cp1252))
            i += 4
          } else if (Character.isLetter(c)) {
            var j = i + 1
            while (j < n && Character.isLetter(bytes(j))) j += 1
            val word = new String(bytes, i + 1, j - i - 1,
              java.nio.charset.StandardCharsets.US_ASCII)
            var neg = false
            var param = Long.MinValue
            if (j < n && (bytes(j) == '-' || Character.isDigit(bytes(j)))) {
              if (bytes(j) == '-') { neg = true; j += 1 }
              var p = 0L
              var digits = 0
              while (j < n && Character.isDigit(bytes(j)) && digits < 10) {
                p = p * 10 + (bytes(j) - '0'); j += 1; digits += 1
              }
              param = if (neg) -p else p
            }
            if (j < n && bytes(j) == ' ') j += 1 // the word's delimiter
            i = j + handleWord(word, param, j)
          } else {
            c match {
              case '{' | '}' | '\\' => emit(c.toChar.toString)
              case '~' => emit(" ")
              case '-' | '_' => () // optional/nonbreaking hyphen markers
              case '*' =>
                // a starred destination: mark this group skipped
                ucStack = (ucStack.head._1, true) :: ucStack.tail
              case '\n' | '\r' =>
                if (!skipped) { grow(1); out.append('\n') } // \<newline> == \par
              case _ => ()
            }
            i += 2
          }
        case '\r' | '\n' => i += 1 // raw newlines are ignored in RTF
        case ch =>
          // raw high bytes decode in the document codepage like \'hh
          if (ch < 128) emit(ch.toChar.toString)
          else emit(new String(Array(ch.toByte), Cp1252))
          i += 1
      }
    }
    if (depth != 0) bad(s"unbalanced braces ($depth open at EOF)")
    out.toString
  }

  // --------------------------------------------------------- writer

  /** Deterministic minimal RTF: cp1252-safe characters literal (specials
    * escaped), everything else as `\uN` with a '?' fallback; `\n` →
    * `\par`, `\t` → `\tab`. Round-trips through [[extract]].
    */
  def write(text: String): Array[Byte] = {
    val sb = new StringBuilder("{\\rtf1\\ansi\\ansicpg1252\\uc1 ")
    text.foreach {
      case '\\' => sb.append("\\\\")
      case '{' => sb.append("\\{")
      case '}' => sb.append("\\}")
      case '\n' => sb.append("\\par ")
      case '\t' => sb.append("\\tab ")
      case c if c >= 32 && c < 127 => sb.append(c)
      case c =>
        sb.append("\\u").append(c.toInt.toShort.toInt).append("?")
    }
    sb.append('}')
    sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }
}
