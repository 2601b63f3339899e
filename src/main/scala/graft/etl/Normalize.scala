package graft.etl

import java.time.{LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale
import scala.util.matching.Regex

/** Dynamic-typing value normalizer — faithful re-implementation of the
  * reference's `normalize_value` branch chain
  * (reference: backend/etl_pipeline.py:167-207) over [[JVal]] cells, plus the
  * per-value type sniffer `infer_type` (backend/etl_pipeline.py:228-244).
  *
  * Branch order (must be preserved — it produces the reference's signature
  * quirks, SURVEY.md §2.3): null-tokens → booleans → percent → email → phone
  * → int → float → date → lowercase. Notable faithful quirks:
  *   - "1"/"0" become booleans before any numeric parsing;
  *   - a bare integer "123" matches the PHONE regex and stays a digit string;
  *   - a plain date "2025-11-01" also matches the phone regex → "20251101";
  *   - negatives like "-5" match the phone regex too → digit string "5"
  *     (sign stripped), so the int branch effectively fires only for
  *     currency/comma values like "$1,234";
  *   - non-string inputs (bools/numbers from JSON) pass through unchanged.
  *
  * Documented deviation: the reference's date branch uses `dateutil.parse`
  * (format-free). We use a fixed, ordered format battery
  * ([[Dates.parseIso]]) — deterministic, codegen-friendly, and identical in
  * the DuckDB oracle. Values outside the battery fall through to the
  * lowercase branch. The single-comma digit family ("123,123") is now
  * batteryized exactly ([[Dates.commaIntDateVote]], round 7); the
  * remaining vote-only gap (fully logged by the fuzz harness, see
  * tools/fuzz_parity.py) is strings with ≥2 commas ("12,34,56"), whose
  * multi-token ymd resolution stays out of battery scope.
  */
object Normalize {
  /** Obscure reference quirk: `normalize_data`'s numeric-column check ORs in
    * `pd.api.types.is_numeric_dtype(x)`, which is TRUE for any string that
    * names a numpy numeric dtype — so a column of values like "short",
    * "float", "double", "i8" passes the numeric gate and gets the
    * normalize_value chain. Exact accepted set enumerated empirically
    * (case-sensitive, no surrounding whitespace).
    */
  val NumpyDtypeNames: Seq[String] = Seq(
    "?", "B", "D", "F", "G", "H", "I", "L", "P", "Q", "b", "b1", "bool",
    "bool8", "bool_", "byte", "c16", "c32", "c8", "cdouble", "cfloat",
    "clongdouble", "clongfloat", "complex", "complex128", "complex256",
    "complex64", "complex_", "csingle", "d", "double", "e", "f", "f16", "f2",
    "f4", "f8", "float", "float128", "float16", "float32", "float64",
    "float_", "g", "h", "half", "i", "i1", "i2", "i4", "i8", "int", "int0",
    "int16", "int32", "int64", "int8", "int_", "intc", "intp", "l", "long",
    "longcomplex", "longdouble", "longfloat", "longlong", "p", "q", "short",
    "single", "singlecomplex", "u1", "u2", "u4", "u8", "ubyte", "uint",
    "uint0", "uint16", "uint32", "uint64", "uint8", "uintc", "uintp",
    "ulong", "ulonglong", "ushort")

  private val NullTokens = Set("na", "n/a", "null", "none", "", "nan")
  private val TrueTokens = Set("true", "yes", "1")
  private val FalseTokens = Set("false", "no", "0")
  private val PercentRe: Regex = "^(\\d+(\\.\\d+)?)%$".r
  // python re with default unicode \w / \d; keep ASCII here (fixtures are ASCII)
  private val EmailRe: Regex = "^[\\w.+-]+@[\\w.-]+\\.[a-zA-Z]{2,}$".r
  private val PhoneRe: Regex = "^\\+?[\\d\\s\\-()]+$".r
  private val IntRe: Regex = "^[+-]?\\d+$".r
  // full-match (String.matches) patterns, compiled once per JVM
  private val PyFloatBody = java.util.regex.Pattern.compile("(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?")
  private val DigitsOnly = java.util.regex.Pattern.compile("^\\d+$")
  private val DecimalOnly = java.util.regex.Pattern.compile("^\\d*\\.\\d+$")
  private val NegNumDate = java.util.regex.Pattern.compile("^" + Dates.NegNumDateRe + "$")
  private val NonDigit = java.util.regex.Pattern.compile("[^\\d]")

  /** Faithful normalize of one cell. The reference stringifies EVERY non-null
    * value (`s = str(val)`, backend/etl_pipeline.py:170) — so int 1 → "1" →
    * boolean True, int 95 → "95" → phone branch → digit STRING "95", bool
    * True → "True" → True again. Only None/NaN short-circuit.
    */
  def normalizeCell(v: JVal): JVal = normalizeCell(v, PyRender.pyStr(v), Dates.wallClock)

  /** [[normalizeCell]] for a caller that already holds the cell's python
    * `str()` rendering `s` (evaluated only for non-NA cells), taking the run
    * date from `today` (see [[normalizeString]]).
    */
  def normalizeCell(v: JVal, s: => String, today: () => LocalDate): JVal = v match {
    case JNull => JNull
    case JFloat(d) if d.isNaN => JNull
    case _ => normalizeString(s, today)
  }

  /** The branch chain over an input string. */
  def normalizeString(s0: String): JVal = normalizeString(s0, Dates.wallClock)

  /** The branch chain, calling `today` for the run date only when the
    * string reaches the date parser and passes its gate.
    */
  def normalizeString(s0: String, today: () => LocalDate): JVal = {
    val s = s0.strip()
    val sl = s.toLowerCase(Locale.ROOT)
    if (NullTokens.contains(sl)) JNull
    else if (TrueTokens.contains(sl)) JBool(true)
    else if (FalseTokens.contains(sl)) JBool(false)
    else
      PercentRe.findFirstMatchIn(s) match {
        case Some(m) => JFloat(m.group(1).toDouble / 100.0)
        case None =>
          if (EmailRe.findFirstIn(s).isDefined) JStr(sl)
          else if (PhoneRe.findFirstIn(s).isDefined) JStr(NonDigit.matcher(s).replaceAll(""))
          else {
            val sn = s.replace(",", "").replace("$", "").replace("₹", "").strip()
            if (IntRe.findFirstIn(sn).isDefined)
              try JInt(BigInt(sn)) catch { case _: NumberFormatException => JStr(sl) }
            else
              pyFloat(sn) match {
                case Some(d) => JFloat(d)
                case None =>
                  Dates.parseIso(s, today) match {
                    case Some(iso) => JStr(iso)
                    case None => JStr(sl)
                  }
              }
          }
      }
  }

  /** SANE mode (SURVEY.md §2.3): same dynamic typing without the reference's
    * branch-order quirks — numbers parse before booleans/phone, "1"/"0" stay
    * integers, bare digit strings become ints, negatives stay numeric,
    * plain dates are dates. Opt-in via DocumentEtl.run(mode = SaneMode);
    * faithful mode stays the default (and the oracle/golden target).
    */
  def normalizeStringSane(s0: String): JVal = {
    val s = s0.strip()
    val sl = s.toLowerCase(Locale.ROOT)
    if (NullTokens.contains(sl)) JNull
    else {
      val sn = s.replace(",", "").replace("$", "").replace("₹", "").strip()
      if (IntRe.findFirstIn(sn).isDefined)
        try JInt(BigInt(sn)) catch { case _: NumberFormatException => JStr(sl) }
      else pyFloat(sn) match {
        case Some(d) if !d.isNaN => JFloat(d)
        case _ =>
          if (Set("true", "yes")(sl)) JBool(true)
          else if (Set("false", "no")(sl)) JBool(false)
          else
            PercentRe.findFirstMatchIn(s) match {
              case Some(m) => JFloat(m.group(1).toDouble / 100.0)
              case None =>
                if (EmailRe.findFirstIn(s).isDefined) JStr(sl)
                else Dates.parseIso(s) match {
                  case Some(iso) => JStr(iso)
                  case None =>
                    if (PhoneRe.findFirstIn(s).isDefined && s.exists(c => !c.isDigit))
                      JStr(NonDigit.matcher(s).replaceAll(""))
                    else JStr(sl)
                }
            }
      }
    }
  }

  def normalizeCellSane(v: JVal): JVal = v match {
    case JNull => JNull
    case JFloat(d) if d.isNaN => JNull
    case s: JStr => normalizeStringSane(s.s)
    case other => other // sane mode: typed values pass through untouched
  }

  /** python `float(s)` acceptance (sign, decimals, exponents, inf/infinity). */
  private[graft] def pyFloat(s0: String): Option[Double] = {
    val s = s0.strip().toLowerCase(Locale.ROOT)
    val body = s.stripPrefix("+").stripPrefix("-")
    val neg = s.startsWith("-")
    if (body == "inf" || body == "infinity")
      Some(if (neg) Double.NegativeInfinity else Double.PositiveInfinity)
    else if (body == "nan") Some(Double.NaN)
    else if (PyFloatBody.matcher(body).matches())
      try Some(s.toDouble) catch { case _: NumberFormatException => None }
    else None
  }

  /** `infer_type` (reference: backend/etl_pipeline.py:228-244): value-level
    * schema tag over the python `str()` rendering of a cell.
    */
  def inferType(v: JVal): String = v match {
    case JNull => "null"
    case JFloat(d) if d.isNaN => "null"
    case other =>
      val s = PyRender.pyStr(other).strip()
      if (s.isEmpty) "null"
      else if (DigitsOnly.matcher(s).matches()) "integer"
      else if (DecimalOnly.matcher(s).matches()) "float"
      else if (s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false")) "boolean"
      // dateutil quirk: negative numbers reach dateparse (the int/float
      // regexes above don't match '-') and often PARSE — see
      // [[Dates.NegNumDateRe]]. Mirrored so the schema vote agrees with the
      // reference; normalize_value is unaffected (its int()/float() branches
      // consume negatives before its dateparse).
      else if (NegNumDate.matcher(s).matches()) "date"
      else if (Dates.parses(s)) "date"
      // digit-comma-digit family (comma-joined flattened lists) — vote
      // only; see [[Dates.commaIntDateVote]]
      else if (Dates.commaIntDateVote(s)) "date"
      else "string"
  }
}

/** Fixed date-format battery standing in for dateutil's free-form parser.
  * Ordered; first match wins. Output of [[parseIso]] mirrors
  * `datetime.isoformat()` (what the reference stores for parsed datetimes).
  */
object Dates {
  /** dateutil quirk, exactly mirrored: NEGATIVE numbers reach dateutil.parse
    * (infer_type's int/float regexes don't match '-') and often PARSE — the
    * '-' tokenizes as a jump, the digits read as day/year. Acceptance is
    * decided by token SHAPE (verified value-independent against dateutil),
    * plus two fixed-width VALUE-dependent branches (verified by full
    * enumeration of all 10^6 six-digit strings against dateutil):
    *   - pure int: 1-4 digits (5/7/8+ digits fail; -0 forms fail); a
    *     trailing dot tokenizes separately, so "-5." ≡ "-5";
    *   - bare fraction ".F": 1-4 fraction digits;
    *   - "I.F": fails when the token length hits dateutil's fixed-width
    *     branches (len 8/12 → YYYYMMDD[HHMM] — the dot breaks the int
    *     slices) or the int part has 5 or 7+ digits; per int-digit count
    *     the allowed fraction-digit counts are
    *       1 → {1,2,3,5},  2 → {1,2,4,6},  3 → {1,3,5,6},  4 → {2,4,5,6}
    *     (capped at 6 fraction digits — all this corpus can produce);
    *   - 6-digit int with ANY fraction: dateutil's fixed-width HHMMSS.f
    *     branch — parses iff HH<24, MM<60, SS<60 (time-of-day "today");
    *   - bare 6 digits: split into three 2-digit fields resolved like
    *     dateutil's ymd logic — first>31 → (year,month,day), first>12 →
    *     (day,month,year), else (month,day,year); valid iff the month is
    *     1-12 and the day fits the month (Feb 29 iff the 2-digit year mod
    *     4 == 0 — exact for dateutil's ±50-year century window, where every
    *     mapped year divisible by 4 is a leap year). See [[TripletRe]].
    * RE2-compatible (no lookahead) so DuckDB oracles run the same regex.
    */
  private val MM31 = "(0[13578]|1[02])" // months with 31 days
  private val MM30 = "(0[469]|11)"
  private val MMAll = "(0[1-9]|1[0-2])"
  private val MMNoFeb = "(0[13-9]|1[0-2])"
  private val D31 = "(0[1-9]|[12]\\d|3[01])"
  private val D30 = "(0[1-9]|[12]\\d|30)"
  private val D28 = "(0[1-9]|1\\d|2[0-8])"
  private val LeapYY = "([02468][048]|[13579][26])" // yy with Y(yy) % 4 == 0
  private val LeapYear32 = "(3[26]|4[048]|5[26]|6[048]|7[26]|8[048]|9[26])"

  /** Bare 6-digit M/D/Y-triplet acceptance (see NegNumDateRe scaladoc). */
  val TripletRe: String =
    s"($MM31$D31\\d{2}|$MM30$D30\\d{2}|02$D28\\d{2}|0229$LeapYY|" +
      s"(1[3-9]|2[0-8])$MMAll\\d{2}|29($MMNoFeb\\d{2}|02$LeapYY)|" +
      s"30$MMNoFeb\\d{2}|31$MM31\\d{2}|" +
      s"(3[2-9]|[4-9]\\d)($MM31$D31|$MM30$D30|02$D28)|${LeapYear32}0229)"

  val NegNumDateRe: String =
    "-([1-9]\\d{0,3}\\.?|\\.\\d{1,4}|[1-9]\\.(\\d{1,3}|\\d{5})|[1-9]\\d\\.(\\d{1,2}|\\d{4}|\\d{6})|" +
      "[1-9]\\d{2}\\.(\\d|\\d{3}|\\d{5,6})|[1-9]\\d{3}\\.(\\d{2}|\\d{4,6})|" +
      "([01]\\d|2[0-3])[0-5]\\d[0-5]\\d\\.\\d+|" + // HHMMSS.f fixed-width branch
      TripletRe + ")"

  private val IsoDate = "^(\\d{4})-(\\d{2})-(\\d{2})$".r
  // seconds fraction: dateutil accepts '.' or ',' (ISO 8601 comma) after the
  // SECONDS field only (after minutes it means fraction-of-minute — not
  // battery-covered), any digit count (truncated to µs), and a bare
  // trailing separator
  private val IsoDateTime =
    "^(\\d{4}-\\d{2}-\\d{2})[Tt ](\\d{2}:\\d{2}(?::\\d{2}(?:[.,]\\d*)?)?)(Z|z|[+-]\\d{2}:?\\d{2})?$".r
  /** Free-form numeric triplets, round 8 — dateutil's `_ymd.resolve_ymd`
    * in ONE rule (unified this round after probing the mixed-width edges;
    * the earlier 4-digit/all-short/3-digit split encoded the same
    * resolution piecewise):
    *
    *  - separators: '/' and '-' are interchangeable JUMP tokens (mixed
    *    freely, "2024-01/05"); '.' separates only when BOTH separators are
    *    dots (a single digit-dot-digit run merges into a decimal token —
    *    "2024.01-05" fails, "2024.01.05" parses);
    *  - member order by the FIRST member: value > 31 or width ≥ 3 digits
    *    → (year, month, day); value > 12 → (day, month, year); else
    *    (month, day, year) — the US month-first default. Width counts
    *    because `_ymd.append` labels any ≥3-digit STRING a year
    *    ("013/1/5" → year 13), and resolve_ymd honors that label only at
    *    index 0;
    *  - at most ONE member may be ≥3 digits wide — a second year label
    *    conflicts ("05/013/2024" fails even though day 13 would fit);
    *  - a ≤2-digit year converts through convertyear's ±50-year window
    *    around the RUN DATE ("5/1/24" → 2024, "5/1/76" → 1976) UNLESS any
    *    member was ≥3 digits wide, which sets dateutil's
    *    century_specified and pins the year as written ("05/01/099" →
    *    year 99, "13/1/024" → 0024-01-13);
    *  - an optional time suffix rides behind ' '/'T'/a spaced comma (see
    *    [[timeSuffix]]).
    *
    * `today` is injectable for the golden spec (tools/date_parity.py
    * records its run date); production callers bind the wall clock,
    * exactly like [[commaIntDateVote]].
    */
  private val TripletAny =
    "^(\\d{1,4})([/.\\- ])(\\d{1,4})([/.\\- ])(\\d{1,4})((?:[Tt ,].*)?)$".r

  /** dateutil `parserinfo.convertyear` for a bare ≤2-digit year. The
    * window is ASYMMETRIC — dateutil keeps base in [run-50, run+50): it
    * subtracts 100 when base >= run+50 but adds 100 only when base is
    * STRICTLY below run-50. E.g. at run year 2090 a bare '40' (base
    * 2040 == run-50) is KEPT as 2040, while '39' (base 2039) wraps to
    * 2139. Only observable for run years with year%100 >= 50 (2050+).
    */
  private[etl] def convertYear2(y: Int, today: LocalDate): Int = {
    val base = y + today.getYear / 100 * 100
    if (base >= today.getYear + 50) base - 100
    else if (base < today.getYear - 50) base + 100
    else base
  }

  // ---- month-name permutations (round 8): a month NAME plus two numbers
  // parses in ANY member order ("2024 Jan 5", "5 2024 Jan", "Jan 2024 5"
  // all probed). Numbers here carry INT semantics (dateutil appends the
  // numeric VALUE in this path, so "015" is day 15 and "0015" year 15,
  // unlike the separator-triplet string semantics): textual-order (a, b)
  // resolve a > 31 → (year, day), else (day, year); a year < 100 converts
  // through the run-date window, ≥ 100 stands ("Jan 5 100" → 0100).
  // Separators are space / comma / slash / dash with optional spaces; a
  // '.' is a jump only ADJACENT to the month name ("Jan. 5" parses,
  // "Jan 5.2024" decimal-merges and fails), and month-attached digits
  // split ("january5 2024", "5Jan 2024"). The attached-dot chain
  // "Jan.5.2024" parses because the leading dot makes the lexer token
  // ".5.2024" double-dotted, which splits back into members — covered as
  // its own shape.
  private val SepNum = "(?: ?[,/\\-]+ ?| )"
  private val SepMon = "(?: ?[,/\\-]+ ?| ?\\. ?| |)"
  // a number token may carry ONE trailing dot when a separator follows
  // ("Jan 5. 2024" parses — the lexer reads "5." as integral 5.0 — while
  // "Jan 5.2024" decimal-merges and fails; the mandatory separator between
  // numbers keeps the merge case out)
  private val NumG = "(\\d{1,4})\\.?"
  private val SfxG = "((?:[Tt ,].*)?)"
  private lazy val MonthPermA =
    ("^(?i)" + MonthAlt + "\\.?" + SepMon + NumG + SepNum + NumG + SfxG + "$").r
  private lazy val MonthPermB =
    ("^(?i)" + NumG + SepMon + MonthAlt + "\\.?" + SepMon + NumG + SfxG + "$").r
  private lazy val MonthPermC =
    ("^(?i)" + NumG + SepNum + NumG + SepMon + MonthAlt + "\\.?" + SfxG + "$").r
  private lazy val MonthPermDots =
    ("^(?i)" + MonthAlt + "\\." + NumG + "\\." + NumG + SfxG + "$").r

  /** Month-name member resolution, INT semantics (dateutil appends the
    * numeric VALUE here, so "015" is day 15 and "0015" year 15, unlike the
    * separator-triplet string semantics). (a, b) are the two numbers in
    * textual order; `monthLast` flips the default: with the month name
    * BEFORE or BETWEEN the numbers the pair reads (day, year) unless
    * a > 31 ("Jan 24 29" → day 24 year 29, "Jan 45 6" → year 45 day 6);
    * with the month name LAST it reads (year, day) unless b > 31
    * ("29/23/Jan" → year 29 day 23, "6 45 Jan" → year 45 day 6) — probed,
    * mirroring resolve_ymd's mstridx cases. A year < 100 converts through
    * the run-date window, ≥ 100 stands ("Jan 5 100" → 0100).
    */
  private def monthPerm(name: String, aS: String, bS: String, sfx: String,
      today: LocalDate, monthLast: Boolean = false): Option[String] = {
    val m = Months.indexOf(name.toLowerCase(Locale.ROOT).take(3)) + 1
    val a = aS.toInt; val b = bS.toInt
    val (yRaw, d) =
      if (monthLast) { if (b > 31) (b, a) else (a, b) }
      else { if (a > 31) (a, b) else (b, a) }
    val y = if (yRaw < 100) convertYear2(yRaw, today) else yRaw
    for (ld <- valid(y, m, d); t <- timeSuffix(sfx))
      yield f"${ld.getYear}%04d-$m%02d-${ld.getDayOfMonth}%02dT$t"
  }
  /** Dot separators must come in pairs (see scaladoc above); a dot next
    * to a space merges ambiguously and is rejected (the pair test covers
    * it). Spaces mix freely with '/' and '-'.
    */
  private def sepsOk(a: String, b: String): Boolean = (a == ".") == (b == ".")
  /** dateutil's month vocabulary is EXACT — abbreviation, full name, or
    * (September only) "sept"; any other suffix fails ("janx", "janu",
    * "septem" all raise). Round 8 tightened the former `[a-z]*` tail to
    * this alternation, verified by the garbage-suffix probes in
    * tools/date_parity.py.
    */
  private val MonthAlt = "(jan(?:uary)?|feb(?:ruary)?|mar(?:ch)?|apr(?:il)?|may|" +
    "jun(?:e)?|jul(?:y)?|aug(?:ust)?|sep(?:t(?:ember)?)?|oct(?:ober)?|" +
    "nov(?:ember)?|dec(?:ember)?)"
  private val MonthName =
    ("^(?i)" + MonthAlt + " (\\d{1,2}),? (\\d{4})((?:[Tt ,].*)?)$").r
  private val DayMonthName =
    ("^(?i)(\\d{1,2}) " + MonthAlt + " (\\d{4})((?:[Tt ,].*)?)$").r
  private val Months = Seq("jan", "feb", "mar", "apr", "may", "jun",
    "jul", "aug", "sep", "oct", "nov", "dec")

  /** Time-of-day suffix shared by the triplet and month-name families:
    * "" → midnight, "[T ]H:MM[:SS[.f]][ AM/PM]" → "HH:MM:SS[.ffffff]",
    * anything else (bare hour, timezone, fraction-of-minute) → None.
    * Meridiem follows dateutil: hour must be ≤ 12 ("13:30 PM" fails),
    * PM maps h%12+12 ("0:30 PM" → 12:30), AM maps h%12 ("12:30 AM" →
    * 00:30); 'a.m'/'p.m.'/'pm' spellings all tokenize. Fractions accept
    * '.' or ',' and truncate to µs, zero-µs is omitted — isoformat rules,
    * same as the ISO branch above.
    */
  private val TimeSfxRe =
    "^[Tt ](\\d{1,2}):(\\d{1,2})(?::(\\d{1,2})(?:[.,](\\d+))?)? ?(?:([AaPp])\\.?[Mm]\\.?)?$".r
  /** Round-8 suffix tail (probed against dateutil): a comma with at least
    * one adjacent space is a jump before the time ("2024, 10:30" and
    * "2024/01/05 ,10:30" parse; ",10:30" with no space does not), a BARE
    * hour parses when it is exactly two digits < 24 ("… 10" parses, "… 7"
    * does not — a lone 1-digit number is an ambiguous ymd member), and a
    * 1-2-digit hour with a meridiem follows the ≤12 rule ("… 7 PM",
    * "… 0 PM" → 12:00).
    */
  private val CommaLead = "^(?: , | ,|, )(.*)$".r
  private val BareHourRe = "^[Tt ](\\d{2})$".r
  private val BareHourApRe = "^[Tt ](\\d{1,2}) ?([AaPp])\\.?[Mm]\\.?$".r
  /** Timezone tail, round 8 (probed): after a parsed TIME (never a bare
    * date), dateutil accepts a numeric offset — ±H, ±HH, ±HHMM, ±HH:MM,
    * attached or spaced, minutes may exceed 59 and carry ("+2299" →
    * +23:39), total must stay under 24 h ("+2399" fails) — rendered
    * normalized in the isoformat; the names Z/UTC/GMT (exact case) map to
    * +00:00; any OTHER all-uppercase ≤5-letter token is dateutil's
    * could_be_tzname shape: accepted but NOT understood, yielding a naive
    * result (the offset is simply absent). "GMT+5" POSIX inversions stay
    * out of battery (documented).
    */
  private val TzTail =
    ("^(.+?)(?: ?([+-]\\d{1,4}|[+-]\\d{1,2}:\\d{2})| ?(Z|z|UTC|GMT)" +
      "| ?([AaPp][Mm]?)| ?([A-Z]{1,5})" +
      // POSIX-style inversion (round 9, probed): a tz NAME with an
      // ATTACHED signed offset is ONE token and the sign flips —
      // "GMT+5" → -05:00, "XYZAB+3" → -03:00, "z+5" → -05:00 — for any
      // name dateutil's could_be_tzname accepts EXCEPT meridiem-shaped
      // A/P/AM/PM (those chain as meridiem + a NORMAL offset: "A+5" →
      // +05:00). The numeric grammar (carry, <24 h, colon forms, 3-digit
      // rejection) is identical to the plain tail.
      // the lookbehind stops a phantom split of an alpha RUN (dateutil
      // lexes "PM" as ONE token, so "PM+0500" is meridiem + a NORMAL
      // offset, never "P" + posix "M+0500")
      "| ?(?<![A-Za-z])(Z|z|UTC|GMT|[B-OQ-Z]|[AP][A-LN-Z]|[B-OQ-Z][A-Z]|[A-Z]{3,5})" +
      "([+-]\\d{1,4}|[+-]\\d{1,2}:\\d{2}))$").r
  private def timeSuffix(sfx0: String): Option[String] =
    timeSuffixTz(sfx0, allowTz = true)

  private def timeSuffixTz(sfx0: String, allowTz: Boolean): Option[String] = {
    val sfx = sfx0 match {
      case CommaLead(rest) => " " + rest
      case other => other
    }
    timeSuffixBody(sfx).orElse(sfx match {
      case TzTail(rest, num, name, meridiem, other, pName, pNum) =>
        // the rest parses RECURSIVELY, so trailing meridiem tokens chain
        // the way dateutil applies them sequentially ("10:30 AM P" → the
        // P re-applies on hour 10 → 22:30; "10:30 PM A" → hour is
        // already 22 when the A validates ≤ 12 → fail; both probed) —
        // but at most ONE tz token total ("10:30 UTC GMT" and chained
        // unknown names fail, so tz tails recurse with tz disallowed)
        val restParsed =
          if (meridiem != null) timeSuffixTz(rest, allowTz)
          else if (allowTz) timeSuffixTz(rest, allowTz = false)
          else None
        restParsed.flatMap { base =>
          if (meridiem != null) {
            val h = base.substring(0, 2).toInt
            if (h > 12) None
            else {
              val h2 =
                if (meridiem.toLowerCase(Locale.ROOT).startsWith("p")) h % 12 + 12
                else h % 12
              Some(f"$h2%02d" + base.substring(2))
            }
          } else
          if (num != null) numOffset(num, invert = false).map(base + _)
          else if (pNum != null) numOffset(pNum, invert = true).map(base + _)
          else if (name != null) Some(base + "+00:00")
          else Some(base) // could_be_tzname shape, not understood: naive
        }.orElse {
          // SPACED name-then-offset chain (round 9, probed): the rest may
          // end with ONE tz name before a numeric offset. A KNOWN zone
          // (Z/z/UTC/GMT) wins — dateutil's validate() RESETS a nonzero
          // offset whenever the name is a UTC zone, so "10:30 GMT +5" is
          // +00:00 and even out-of-range offsets pass ("GMT +25"); only
          // the token SHAPE is checked (3-digit "GMT +123" still fails).
          // An unknown name parses naive and the offset applies normally
          // with full bounds ("EST +2" → +02:00, "EST +25" fails).
          if (num == null || !allowTz) None
          else rest match {
            case NameTail(rest2, tzName) =>
              timeSuffixTz(rest2, allowTz = false).flatMap { base =>
                if (tzName == "Z" || tzName == "z" || tzName == "UTC" ||
                    tzName == "GMT") {
                  val digits = num.substring(1)
                  val shapeOk = num.contains(":") ||
                    digits.length <= 2 || digits.length == 4
                  if (shapeOk) Some(base + "+00:00") else None
                } else numOffset(num, invert = false).map(base + _)
              }
            case _ => None
          }
        }
      case _ => None
    })
  }

  /** rest ending in one SPACED tz-name token (meridiem shapes excluded —
    * those chain through the meridiem branch and a normal offset).
    */
  private val NameTail =
    "^(.+) (Z|z|UTC|GMT|[B-OQ-Z]|[AP][A-LN-Z]|[B-OQ-Z][A-Z]|[A-Z]{3,5})$".r

  /** Validate and normalize a signed numeric offset token to "±HH:MM".
    * Grammar (probed): ±H, ±HH, ±HHMM, ±HH:MM, ±H:MM; minutes carry
    * ("+2299" → +23:39, "+5:99" → +06:39); total must stay < 24 h;
    * UNSEPARATED 3-digit forms fail. `invert` flips the sign — the POSIX
    * convention dateutil applies when the offset is ATTACHED to a tz name
    * ("GMT+5" → -05:00).
    */
  private def numOffset(num: String, invert: Boolean): Option[String] = {
    val neg0 = num.charAt(0) == '-'
    val neg = if (invert) !neg0 else neg0
    val hm =
      if (num.contains(":")) {
        // dateutil's GMT±H:MM colon path reads the hour and minute
        // TOKENS separately (int(l[i+1])·3600 + int(l[i+3])·60), so a
        // 1-digit hour is fine ("+5:30" → +05:30) — the 3-digit
        // rejection below applies to the UNSEPARATED form only
        val ci = num.indexOf(':')
        Some((num.substring(1, ci).toInt, num.substring(ci + 1).toInt))
      } else {
        val digits = num.substring(1)
        if (digits.length <= 2) Some((digits.toInt, 0))
        else if (digits.length == 4)
          Some((digits.substring(0, 2).toInt, digits.substring(2).toInt))
        else None // 3-digit offsets fail in dateutil
      }
    hm.flatMap { case (h, mi) =>
      val total = h * 60 + mi
      if (total >= 24 * 60) None
      else {
        val sgn = if (neg && total > 0) "-" else "+"
        Some(f"$sgn${total / 60}%02d:${total % 60}%02d")
      }
    }
  }
  private def timeSuffixBody(sfx: String): Option[String] = sfx match {
    case "" => Some("00:00:00")
    case BareHourRe(h0) =>
      if (h0.toInt < 24) Some(f"${h0.toInt}%02d:00:00") else None
    case BareHourApRe(h0, ap0) =>
      val h1 = h0.toInt
      if (h1 > 12) None
      else {
        val h = if (ap0.toLowerCase == "p") h1 % 12 + 12 else h1 % 12
        Some(f"$h%02d:00:00")
      }
    case TimeSfxRe(h0, mi0, se0, fr0, ap0) =>
      val h1 = h0.toInt
      val mi = mi0.toInt
      val se = Option(se0).map(_.toInt).getOrElse(0)
      val ap = Option(ap0).map(_.toLowerCase(Locale.ROOT))
      val hOk = if (ap.isDefined) h1 <= 12 else h1 < 24
      if (!hOk || mi >= 60 || se >= 60) None
      else {
        val h = ap match {
          case Some("p") => h1 % 12 + 12
          case Some("a") => h1 % 12
          case None => h1
        }
        val micro = Option(fr0).map(_.take(6).padTo(6, '0')).filter(_ != "000000")
        Some(f"$h%02d:$mi%02d:$se%02d" + micro.map("." + _).getOrElse(""))
      }
    case _ => None
  }

  def parses(s0: String): Boolean = parseIso(s0).isDefined
  def parses(s0: String, today: LocalDate): Boolean = parseIso(s0, today).isDefined

  /** Parse to `datetime.isoformat()`-style string, or None. The wall-clock
    * overload matches the reference (dateutil binds `datetime.now()`); the
    * `today` overloads take the run date from the caller (the pinned-run-date
    * golden spec, [[CellMemo]]).
    */
  def parseIso(s0: String): Option[String] = parseIso(s0, wallClock)

  /** [[parseIso]] taking the run date from `today`, which it calls only
    * for strings the gate passes: the gate needs no date.
    */
  def parseIso(s0: String, today: () => LocalDate): Option[String] =
    if (!gateOk(s0)) None else parseIso(s0, today())

  /** the run date as dateutil reads it: `datetime.now()` */
  val wallClock: () => LocalDate = () => LocalDate.now()

  // ---- round-8 tail: dateutil tokenizer-jump preprocessing. Each rewrite
  // mirrors a measured _timelex/jump rule (all probed against live
  // dateutil; pinned by tools/date_parity.py):
  //  - whitespace runs collapse (the lexer skips space runs as one jump);
  //  - trailing '.'/',' tokens (with optional spaces) are skippable jumps
  //    ("2024/01/05 . , ." parses);
  //  - leading weekday names — exact vocabulary, abbreviation or full, any
  //    case, optional attached '.'/','/space, repeatable ("Mon Tue 5 Jan
  //    2024" parses; "Tues" is NOT in the vocabulary and fails);
  //  - ordinal suffixes on 1-2-digit numbers are jumps REGARDLESS of
  //    agreement ("5st Jan 2024" parses; "5xx" does not).
  private val WeekdayPrefix =
    ("(?i)^(?:(?:mon(?:day)?|tue(?:sday)?|wed(?:nesday)?|thu(?:rsday)?|" +
      "fri(?:day)?|sat(?:urday)?|sun(?:day)?)\\.?,? ?)+").r
  // PRECOMPILED rewrite patterns: preprocess runs per dateparse attempt in
  // the scalar hot path, and String.replaceAll would recompile each regex
  // on every call
  private val PreSpaces = java.util.regex.Pattern.compile("\\s+")
  private val PreTrail = java.util.regex.Pattern.compile("( ?[.,])+$")
  private val PreOrd =
    java.util.regex.Pattern.compile("(?i)\\b(\\d{1,2})(?:st|nd|rd|th)\\b")
  private val PreApoDD = java.util.regex.Pattern.compile("(\\d)'+(\\d)")
  private val PreApoLead = java.util.regex.Pattern.compile("(^| )'+(\\d)")
  private val PreApoAD = java.util.regex.Pattern.compile("([A-Za-z])'+(\\d)")
  private val PreApoDA = java.util.regex.Pattern.compile("(\\d)'+([A-Za-z])")

  // Each rewrite below runs only when its pattern CAN match (two spaces or
  // a whitespace char other than ' ' — every `\s` is one; a '.' or ','; a
  // leading weekday initial; an ASCII letter for an ordinal suffix): the
  // common date shapes skip the matcher scans, with the same result.
  private def preprocess(s0: String): String = {
    val t = s0.strip()
    val s1 =
      if (t.contains("  ") || t.exists(c => c != ' ' && Character.isWhitespace(c)))
        PreSpaces.matcher(t).replaceAll(" ")
      else t
    val s2 =
      if (s1.indexOf('.') >= 0 || s1.indexOf(',') >= 0) PreTrail.matcher(s1).replaceAll("")
      else s1
    val s3 =
      if (s2.nonEmpty && "mMtTwWfFsS".indexOf(s2.charAt(0)) >= 0) WeekdayPrefix.replaceFirstIn(s2, "")
      else s2
    val s4 = if (s3.exists(c => c < 128 && c.isLetter)) PreOrd.matcher(s3).replaceAll("$1") else s3
    // apostrophes are jump tokens in digit-adjacent positions ("Jan 5'24",
    // "'24 Jan 5", "05'01'24", "Jan'5'2024" all parse; after a '-' they do
    // NOT — "Jan-5-'24" fails, so the rewrites stay position-scoped):
    // digit'digit reads as a member separator, a leading run before a
    // digit vanishes, and an alpha-digit boundary apostrophe splits
    if (s4.indexOf('\'') < 0) s4
    else {
      val a = PreApoDD.matcher(s4).replaceAll("$1/$2")
      val b = PreApoLead.matcher(a).replaceAll("$1$2")
      val c = PreApoAD.matcher(b).replaceAll("$1 $2")
      PreApoDA.matcher(c).replaceAll("$1 $2")
    }
  }

  /** Cheap charset + digit gate in front of the whole battery (the
    * InferTypeKernel treatment applied to the scalar path, round 11): a
    * parseable string can only contain letters, digits, whitespace and
    * the separator set `,./:+'-` and must contain a digit, so anything
    * else skips the regex cascade AND the chain fallback entirely.
    * Battery-accepted strings always pass (month/tz names are ASCII
    * letters; every family's separators are in the set), so the gate is
    * acceptance-neutral — DateParitySpec replays the full golden corpus
    * through this path.
    */
  private def gateOk(s: String): Boolean = {
    var digit = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') digit = true
      else if (!((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          c == ' ' || c == ',' || c == '.' || c == '/' || c == ':' ||
          c == '+' || c == '-' || c == '\'' || Character.isWhitespace(c)))
        return false
      i += 1
    }
    digit
  }

  def parseIso(s0: String, today: LocalDate): Option[String] = {
    if (!gateOk(s0)) return None
    val s = preprocess(s0)
    // the pinned regex families decide first (covered golden shapes are
    // bit-identical through them); the token-chain model ([[DateChain]])
    // closes the out-of-battery chain shapes they decline
    regexFamilies(s, today).orElse(DateChain.parse(s, today))
  }

  private def regexFamilies(s: String, today: LocalDate): Option[String] = {
    s match {
      case IsoDate(y, m, d) =>
        valid(y.toInt, m.toInt, d.toInt).map(_ => s"$y-$m-${d}T00:00:00")
      case IsoDateTime(date, time0, tz) =>
        // python isoformat renders microseconds 6-digit-padded (input frac
        // truncated to 6) and omits them entirely when zero
        val sep = time0.indexWhere(c => c == '.' || c == ',')
        val (base, frac) =
          if (sep < 0) (time0, "") else (time0.substring(0, sep), time0.substring(sep + 1))
        val micro = frac.take(6).padTo(6, '0')
        val time = base + (if (frac.nonEmpty && micro != "000000") "." + micro else "")
        val t = if (time.length == 5) time + ":00" else time
        // numeric offsets validate and normalize like the free-form tz
        // tail: minutes carry ("+0560" → +06:00), total < 24 h ("+2399"
        // fails) — probed on ISO-attached forms too
        val tzs = tz match {
          case null => Some("")
          case "Z" | "z" => Some("+00:00")
          case o =>
            val digits = o.substring(1).replace(":", "")
            val total = digits.substring(0, 2).toInt * 60 + digits.substring(2).toInt
            if (total >= 24 * 60) None
            else {
              val sgn = if (o.charAt(0) == '-' && total > 0) "-" else "+"
              Some(f"$sgn${total / 60}%02d:${total % 60}%02d")
            }
        }
        if (valid(date.substring(0, 4).toInt, date.substring(5, 7).toInt,
            date.substring(8, 10).toInt).isDefined && t.substring(0, 2).toInt < 24 &&
            t.substring(3, 5).toInt < 60)
          tzs.map(z => s"${date}T$t$z")
        else None
      case MonthName(mon, d, y, sfx) => monthPerm(mon, d, y, sfx, today)
      case DayMonthName(d, mon, y, sfx) => monthPerm(mon, d, y, sfx, today)
      case TripletAny(a0, s1, b0, s2, c0, sfx) if sepsOk(s1, s2) =>
        // separator-joined members keep dateutil's STRING semantics (a
        // ≥3-digit token pins the year as written); SPACE-separated
        // members go through the int append path instead ("05 01 0024" →
        // 2024 converted, "05/01/0024" → 0024 pinned — both probed), the
        // same semantics the month-name families use
        val spacey = s1 == " " || s2 == " "
        val a = a0.toInt; val b = b0.toInt; val c = c0.toInt
        if (spacey) {
          val (y0, m, d) =
            if (a > 31) (a, b, c) else if (a > 12) (c, b, a) else (c, a, b)
          val y = if (y0 < 100) convertYear2(y0, today) else y0
          for (ld <- valid(y, m, d); t <- timeSuffix(sfx))
            yield f"${ld.getYear}%04d-$m%02d-${ld.getDayOfMonth}%02dT$t"
        } else {
          val wide = Seq(a0, b0, c0).count(_.length >= 3)
          if (wide >= 2) None
          else {
            val (y0, m, d) =
              if (a > 31 || a0.length >= 3) (a, b, c)
              else if (a > 12) (c, b, a)
              else (c, a, b)
            val y = if (y0 < 100 && wide == 0) convertYear2(y0, today) else y0
            for (ld <- valid(y, m, d); t <- timeSuffix(sfx))
              yield f"${ld.getYear}%04d-$m%02d-${ld.getDayOfMonth}%02dT$t"
          }
        }
      case MonthPermDots(mon, a0, b0, sfx) => monthPerm(mon, a0, b0, sfx, today)
      case MonthPermA(mon, a0, b0, sfx) => monthPerm(mon, a0, b0, sfx, today)
      case MonthPermB(a0, mon, b0, sfx) => monthPerm(mon, a0, b0, sfx, today)
      case MonthPermC(a0, b0, mon, sfx) =>
        monthPerm(mon, a0, b0, sfx, today, monthLast = true)
      case TimeFirst(lead, rest) if !rest.contains(':') =>
        // time-BEFORE-date order (round 9, probed): dateutil fills time
        // and date fields independently of token order, so "10:30 PM
        // 5 Jan 2024" ≡ "5 Jan 2024 10:30 PM". Model: peel a trailing
        // tz token off the remainder (tz semantics need the CLOCK, which
        // lives in the lead here — "…2024 GMT" applies +00:00 to the
        // leading time), validate lead+tz through the shared suffix
        // grammar (meridiem ≤12 rule, hour/offset bounds, posix names),
        // parse the rest as a pure date, and splice. Guards keep the
        // model inside the probed surface: no second clock time in the
        // remainder (dateutil's later-time-wins overwrite — "10:30
        // 10:40 Jan 5 2024" → 10:40 — stays out-of-battery) and the
        // date must resolve to exactly T00:00:00 with no own suffix.
        val (datePart, tzSfx) = rest match {
          case TrailingTz(dp, tz) => (dp, " " + tz)
          case _ => (rest, "")
        }
        for {
          t <- timeSuffixTz(" " + lead + tzSfx, allowTz = true)
          base <- parseIso(datePart, today)
          if base.length == 19 && base.substring(11) == "00:00:00"
        } yield base.substring(0, 11) + t
      case _ => None
    }
  }

  /** Leading clock time (with optional meridiem) before a date: the time
    * atom, an optional ','/'.' jump, one space, then the remainder.
    * Bare-hour leads need a meridiem ("10 PM 5 Jan 2024" parses; a bare
    * "10 5 Jan 2024" reads 10 as a date member instead).
    *
    * Round 10 (probed): minutes and seconds may be ONE digit — the
    * dateutil lexer reads "3:4" as 03:04 (bounds still < 60, "3:60"
    * fails) — and the lead may carry its own timezone, exactly the
    * trailing-tz token set applied to the leading clock: ATTACHED
    * ("10:30+05:00", "10:30Z", "10:30z", "10:30GMT") or ONE spaced chunk
    * — a signed offset (" +5", " -0530", " +5:30"), a known zone
    * (" Z", " GMT"), a POSIX-inverted attached pair (" GMT+5" → -05:00),
    * or a known-zone chain (" GMT +5" → reset to +00:00, shape-checked).
    * This SPLITTER only bounds token shapes; all validation (offset
    * carry/bounds, meridiem ≤ 12, zone resets) happens in the shared
    * [[timeSuffixTz]] recursion, so lead-position tz semantics are
    * bit-identical to suffix-position ones. Generic NAME tokens in lead
    * position ("10:30 EST 5 Jan 2024") stay OUT of the splitter — they
    * collide with month/weekday vocabulary, which dateutil checks first
    * — so those decline (documented in COVERAGE.md).
    */
  private val TimeFirst =
    ("^((?:\\d{1,2}:\\d{1,2}(?::\\d{1,2}(?:[.,]\\d+)?)?" +
      "(?:[+-]\\d{1,4}|[+-]\\d{1,2}:\\d{2}|(?:Z|z|UTC|GMT)(?:[+-]\\d{1,4}|[+-]\\d{1,2}:\\d{2})?)?" +
      "(?: ?[AaPp]\\.?[Mm]\\.?)?" +
      "|\\d{1,2} ?[AaPp]\\.?[Mm]\\.?)" +
      "(?: (?:Z|z|UTC|GMT)(?:[+-]\\d{1,4}|[+-]\\d{1,2}:\\d{2})?" +
      "(?: [+-](?:\\d{1,2}(?::\\d{2})?|\\d{4}))?" +
      "| [+-]\\d{1,4}| [+-]\\d{1,2}:\\d{2})?" +
      ")[,.]? (.+)$").r

  /** A trailing space-separated tz-shaped token on the time-first
    * remainder: numeric offset, uppercase ≤5-letter name, or an attached
    * name+offset posix form.
    */
  private val TrailingTz =
    ("^(.+) ([+-]\\d{1,4}|[+-]\\d{1,2}:\\d{2}|" +
      "(?:Z|z|UTC|GMT|[A-Z]{1,5})(?:[+-]\\d{1,4}|[+-]\\d{1,2}:\\d{2})?)$").r

  /** Year 0 is valid proleptic-Gregorian for java.time but not for python's
    * datetime (dateutil raises on year 0) — guard it out explicitly.
    */
  private def valid(y: Int, m: Int, d: Int): Option[LocalDate] =
    if (y < 1) None
    else try Some(LocalDate.of(y, m, d)) catch { case _: Exception => None }

  /** dateutil's digit-comma-digit acceptance ("123,123", "58,0", …) — the
    * comma-joined flattened-list family that reaches `infer_type`.
    * Tokenizer rule (dateutil _timelex): a comma MERGES into a numeric
    * token as a decimal point only when ≥2 digits precede it; a single
    * leading digit splits into separate ymd tokens with the comma as a
    * skippable jump. Acceptance then follows _parse_numeric_token's
    * branches — verified against dateutil over 2 256 shape/boundary cases
    * with 0 mismatches (probe harness: see tools/fuzz_parity.py mirror):
    *
    *   |A| ≥ 2 (merged "A.B", L = |A|+|B|+1):
    *     L == 6            → reject (the HHMM int slices hit the '.');
    *     |A| == 6          → HHMMSS[.f]: accept iff HH<24 ∧ MM<60 ∧ SS<60;
    *     L ∈ {8,12,14}     → reject (the YYYYMMDD slices hit the '.');
    *     else v = int(A)   → accept iff 1 ≤ v ≤ 9999 (≤31 day, else year).
    *   |A| == 1 (tokens [a ',' B]):
    *     |B| == 6          → HHMMSS: accept iff valid time ∧ a ≥ 1 (day a);
    *     |B| ∈ {8,12,14}   → reject (a + Y/M/D = four ymd members);
    *     else w = int(B)   → a = 0 ∨ w = 0 reject; w ≤ 31 → month a day w
    *                         (Feb = 28); 32 ≤ w ≤ 9999 → year; else reject.
    *
    * VOTE-ONLY by construction: normalize_value strips commas and converts
    * every digit-comma-digit string to an int before its dateparse
    * fallback, so cell values never rewrite through this path.
    *
    * Day-of-month validity is resolved against the RUN DATE, exactly as
    * dateutil does (its default is `datetime.now()`; a parsed day that does
    * not exist in today's month/year makes `default.replace(...)` raise, so
    * the vote falls back to string): a merged day v ∈ 29..31 is valid only
    * if today's month has v days, and the month-day branch's February
    * accepts day 29 only in a leap run year. The year branch (v ≥ 32) never
    * raises — dateutil clamps the *default* day to the month end when the
    * parse sets no day — so it stays unconditional. `today` is injectable
    * for tests; production callers use the overload bound to the wall
    * clock. Strings with ≥2 commas (e.g. "1,000,000" → month 1 day 0 →
    * reject in dateutil too; "12,34,56") remain the logged deviation
    * family.
    */
  private val CommaNum = "(\\d+),(\\d+)".r
  def commaIntDateVote(s: String): Boolean =
    commaIntDateVote(s, java.time.LocalDate.now())
  def commaIntDateVote(s: String, today: java.time.LocalDate): Boolean = s match {
    case CommaNum(a, b) =>
      def hms6(t: String) = t.substring(0, 2).toInt < 24 &&
        t.substring(2, 4).toInt < 60 && t.substring(4, 6).toInt < 60
      def numVal(t: String): Long = if (t.length > 18) Long.MaxValue else t.toLong
      if (a.length >= 2) {
        val len = a.length + b.length + 1
        if (len == 6) false
        else if (a.length == 6) hms6(a)
        else if (len == 8 || len == 12 || len == 14) false
        else {
          val v = numVal(a)
          // v ≤ 31 reads as a day in TODAY's month; 32..9999 as a year
          // (never raises: dateutil clamps the default day, see scaladoc)
          if (v >= 1 && v <= 31) v <= java.time.YearMonth.from(today).lengthOfMonth()
          else v >= 32 && v <= 9999
        }
      } else {
        val d = a.toInt // single digit: the first ymd member
        if (b.length == 6) d >= 1 && hms6(b)
        else if (b.length == 8 || b.length == 12 || b.length == 14) false
        else {
          val w = numVal(b)
          if (d == 0 || w == 0) false
          // month d, day w — day validity in TODAY's year (Feb 29 iff leap)
          else if (w <= 31)
            w <= java.time.YearMonth.of(today.getYear, d).lengthOfMonth()
          else w <= 9999
        }
      }
    case MultiComma() if s.count(_ == ',') >= 2 => multiCommaVote(s, today)
    case _ => false
  }

  /** ≥2-comma digit strings ("12,34,56", "1,000,000", "5,6,2024") —
    * round 9, closing the last COVERAGE.md vote family. Faithful model of
    * dateutil's pipeline for all-digit comma chains:
    *
    *  - LEXER (_timelex): a comma MERGES into a numeric token as a
    *    decimal point iff ≥2 digits precede it and a digit follows, one
    *    merge per token ("12,34,56" → tokens [12.34, ',', 56]); other
    *    commas are skippable jumps; empty segments vanish.
    *  - _parse_numeric_token per token: a 4th member of width 2/4 is a
    *    clock HOUR[+MINUTE]; width-6 (or '.'-at-6) tokens split YYMMDD
    *    when first else read HHMMSS[.f]; width 8/12/14 split
    *    YYYYMMDD[HHMM[SS]]; anything else appends an ymd member whose
    *    label is YEAR iff value > 100 (century pinned).
    *  - _ymd.resolve_ymd (no month names, yearfirst=dayfirst=false) and
    *    datetime.replace validation: month 1-12, parsed day must exist
    *    in the (possibly defaulted) month, hour ≤ 23, min/sec ≤ 59; a
    *    MISSING day is clamped to the month end (never fails) and
    *    missing members come from the RUN DATE, so validity is
    *    today-dependent exactly like the 1-comma family.
    *
    * Fuzz-verified against live dateutil by tools/fuzz_comma.py (~47k
    * member combinations, 0 mismatches). VOTE-ONLY like the 1-comma
    * family (normalize_value strips commas → int before its dateparse).
    */
  // any digit chain with >= 2 commas total (runs of commas are jump
  // sequences: "5,,6,2024" parses; the count guard keeps "5,,6"-style
  // 2-comma/2-member chains here too, out of the 1-comma table)
  private val MultiComma = "\\d+(?:,+\\d+)+".r
  private[etl] def multiCommaVote(s: String, today: java.time.LocalDate): Boolean = {
    // ---- lex: merge/emit per _timelex
    val segs = s.split(",", -1)
    val toks = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < segs.length) {
      if (segs(i).isEmpty) i += 1 // bare comma: jump
      else if (segs(i).length >= 2 && i + 1 < segs.length && segs(i + 1).nonEmpty) {
        toks += segs(i) + "." + segs(i + 1); i += 2
      } else { toks += segs(i); i += 1 }
    }
    // ---- parse
    def pint(x: String): Option[Int] =
      if (x.nonEmpty && x.length <= 9 && x.forall(_.isDigit)) Some(x.toInt) else None
    def bigVal(intPart: String): Long =
      if (intPart.isEmpty) -1L
      else if (intPart.length > 18) Long.MaxValue
      else intPart.toLong
    val ymd = scala.collection.mutable.ArrayBuffer[Long]()
    var ystr = -1
    var century = false
    var hour = -1; var minute = -1; var second = -1
    def appendVal(v: Long, fracPositive: Boolean): Boolean = {
      // value append (jump branch): the year test compares the DECIMAL,
      // so "100.5" (> 100) labels year while "100.0" does not
      if (v > 100 || (v == 100 && fracPositive)) {
        if (ystr >= 0) return false // second year label: ValueError
        century = true; ystr = ymd.length
      }
      ymd += v; true
    }
    def appendStr(t: String, label: Char): Boolean = { // string append
      if (t.length > 2) {
        if (label == 'Y' || label == ' ') {
          if (ystr >= 0) return false
          century = true; ystr = ymd.length
        }
      } else if (label == 'Y') {
        if (ystr >= 0) return false
        ystr = ymd.length
      }
      ymd += t.toLong; true
    }
    var ok = true
    toks.foreach { t =>
      if (ok) {
        val li = t.length
        val dot = t.indexOf('.')
        if (ymd.size == 3 && (li == 2 || li == 4) && hour < 0) {
          // 4th member of width 2/4: clock hour [+ minute]
          (pint(t.substring(0, 2)), if (li == 4) pint(t.substring(2, 4)) else Some(0)) match {
            case (Some(h), Some(m)) => hour = h; minute = m
            case _ => ok = false // a '.' inside the slices: int() raises
          }
        } else if (li == 6 || (li > 6 && dot == 6)) {
          if (ymd.isEmpty && dot < 0) {
            // YYMMDD member split (string appends, 2-digit, no labels)
            ok = appendStr(t.substring(0, 2), ' ') &&
              appendStr(t.substring(2, 4), ' ') && appendStr(t.substring(4), ' ')
          } else {
            // HHMMSS[.f] — overwrites any earlier clock fields
            val rest = t.substring(4)
            val (secStr, fracOk) =
              if (rest.indexOf('.') >= 0)
                (rest.substring(0, rest.indexOf('.')),
                  rest.substring(rest.indexOf('.') + 1).forall(_.isDigit))
              else (rest, true)
            (pint(t.substring(0, 2)), pint(t.substring(2, 4)), pint(secStr)) match {
              case (Some(h), Some(m), Some(sec)) if fracOk =>
                hour = h; minute = m; second = sec
              case _ => ok = false
            }
          }
        } else if ((li == 8 || li == 12 || li == 14) && dot < 0) {
          ok = appendStr(t.substring(0, 4), 'Y') &&
            appendStr(t.substring(4, 6), ' ') && appendStr(t.substring(6, 8), ' ')
          if (ok && li > 8) {
            (pint(t.substring(8, 10)), pint(t.substring(10, 12))) match {
              case (Some(h), Some(m)) => hour = h; minute = m
              case _ => ok = false
            }
            if (ok && li > 12) pint(t.substring(12, 14)) match {
              case Some(sec) => second = sec
              case None => ok = false
            }
          }
        } else if (li == 8 || li == 12 || li == 14) {
          ok = false // '.' inside the fixed-width slices: int() raises
        } else {
          // jump branch: append the numeric VALUE (fraction discarded in
          // the member, but it participates in the > 100 year test)
          val intPart = if (dot < 0) t else t.substring(0, dot)
          val fracPos = dot >= 0 && t.substring(dot + 1).exists(_ != '0')
          val v = bigVal(intPart)
          if (v < 0) ok = false else ok = appendVal(v, fracPos)
        }
      }
    }
    if (!ok || ymd.size > 3) return false
    // ---- resolve_ymd (no month names; yearfirst = dayfirst = false)
    var yearV = -1L; var monthV = -1L; var dayV = -1L
    ymd.size match {
      case 0 =>
      case 1 =>
        if (ystr == 0) yearV = ymd(0)
        else if (ymd(0) > 31) yearV = ymd(0)
        else dayV = ymd(0)
      case 2 =>
        if (ymd(0) > 31) { yearV = ymd(0); monthV = ymd(1) }
        else if (ymd(1) > 31) { monthV = ymd(0); yearV = ymd(1) }
        else { monthV = ymd(0); dayV = ymd(1) }
      case _ =>
        if (ymd(0) > 31 || ystr == 0) { yearV = ymd(0); monthV = ymd(1); dayV = ymd(2) }
        else if (ymd(0) > 12) { dayV = ymd(0); monthV = ymd(1); yearV = ymd(2) }
        else { monthV = ymd(0); dayV = ymd(1); yearV = ymd(2) }
    }
    // ---- build + validate against the run date
    val yy: Long =
      if (yearV < 0) today.getYear.toLong
      else if (yearV < 100 && !century) convertYear2(yearV.toInt, today).toLong
      else yearV
    if (yy < 1 || yy > 9999) return false
    val mm = if (monthV < 0) today.getMonthValue.toLong else monthV
    if (mm < 1 || mm > 12) return false
    if (dayV >= 0) {
      val maxDay = java.time.YearMonth.of(yy.toInt, mm.toInt).lengthOfMonth()
      if (dayV < 1 || dayV > maxDay) return false
    } // a missing day clamps to the month end — never fails
    if (hour > 23 || minute > 59 || second > 59) return false
    true
  }
}
