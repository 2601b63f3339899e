package graft.etl

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node._
import scala.jdk.CollectionConverters._

/** Minimal JSON value ADT used as the dynamic cell type of the document ETL
  * pipeline (SURVEY.md §1.2): one `JVal` is one reference "runtime cell".
  *
  * Cells travel through the Spark plan encoded as canonical JSON strings
  * inside `MapType(String, String)` columns — uniform Spark type, lossless
  * dynamic typing, cheap to shuffle. Decode/encode happens only inside the
  * extraction / normalization UDFs, never row-by-row on the driver.
  */
sealed trait JVal
case object JNull extends JVal
final case class JBool(b: Boolean) extends JVal
final case class JInt(i: BigInt) extends JVal
final case class JFloat(d: Double) extends JVal
final case class JStr(s: String) extends JVal
final case class JArr(items: Vector[JVal]) extends JVal
final case class JObj(fields: Vector[(String, JVal)]) extends JVal

object Json {
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    // python json.loads accepts NaN/Infinity literals (non-strict JSON)
    m.configure(JsonParser.Feature.ALLOW_NON_NUMERIC_NUMBERS, true)
    m
  }

  /** Parse like python `json.loads` (strict-ish; duplicate keys keep last;
    * integers unbounded). Throws on malformed input — callers that mirror the
    * reference's `try/except: pass` catch and skip.
    *
    * Depth: the tree conversion and the renderer both run on EXPLICIT
    * stacks (round 16 — the earlier recursive walk burned ~10 JVM frames
    * per JSON level and needed a MaxDepth=200 guard, a loads-parity
    * divergence window: CPython parses to its ~1000 recursion limit), so
    * the only nesting bound left is Jackson's own reader limit (1000,
    * StreamReadConstraints) — the same magnitude where python's
    * json.loads dies of RecursionError.
    */
  def parse(text: String): JVal = fromNode(mapper.readTree(text))

  def parseOpt(text: String): Option[JVal] =
    try Some(parse(text)) catch { case _: Exception => None }

  private def leaf(n: JsonNode): JVal = n match {
    case _: NullNode | _: MissingNode => JNull
    case b: BooleanNode => JBool(b.booleanValue)
    case num: NumericNode =>
      if (num.isIntegralNumber && !num.isDouble && !num.isFloat)
        JInt(BigInt(num.bigIntegerValue))
      else JFloat(num.doubleValue)
    case t: TextNode => JStr(t.textValue)
    case other => JStr(other.asText) // binary/POJO nodes: text form
  }

  private sealed trait Frame {
    def next(): JsonNode // null when exhausted
    def add(v: JVal): Unit
    def result: JVal
  }
  private final class ArrFrame(n: ArrayNode) extends Frame {
    private val it = n.elements
    private val buf = Vector.newBuilder[JVal]
    def next(): JsonNode = if (it.hasNext) it.next() else null
    def add(v: JVal): Unit = buf += v
    def result: JVal = JArr(buf.result())
  }
  private final class ObjFrame(n: ObjectNode) extends Frame {
    private val it = n.properties.asScala.iterator
    private var key: String = null
    private val buf = Vector.newBuilder[(String, JVal)]
    def next(): JsonNode =
      if (it.hasNext) { val e = it.next(); key = e.getKey; e.getValue }
      else null
    def add(v: JVal): Unit = buf += (key -> v)
    def result: JVal = JObj(buf.result())
  }

  private def fromNode(root: JsonNode): JVal = {
    def frame(n: JsonNode): Frame = n match {
      case a: ArrayNode => new ArrFrame(a)
      case o: ObjectNode => new ObjFrame(o)
      case _ => null
    }
    val rootFrame = frame(root)
    if (rootFrame == null) return leaf(root)
    val stack = new java.util.ArrayDeque[Frame]()
    stack.push(rootFrame)
    var result: JVal = null
    while (result == null) {
      val top = stack.peek()
      val child = top.next()
      if (child == null) {
        stack.pop()
        val v = top.result
        if (stack.isEmpty) result = v else stack.peek().add(v)
      } else {
        val f = frame(child)
        if (f == null) top.add(leaf(child)) else stack.push(f)
      }
    }
    result
  }

  /** Canonical JSON rendering (the cell wire format). Iterative for the
    * same reason [[fromNode]] is: a parse-depth value must render back
    * without a StackOverflowError.
    */
  def render(v: JVal): String = {
    val sb = new StringBuilder(64)
    val stack = new java.util.ArrayDeque[Any]()
    stack.push(v)
    while (!stack.isEmpty) {
      stack.pop() match {
        case s: String => sb.append(s)
        case JNull => sb.append("null")
        case JBool(b) => sb.append(if (b) "true" else "false")
        case JInt(i) => sb.append(i.toString)
        case JFloat(d) =>
          if (d.isNaN) sb.append("NaN")
          else if (d.isPosInfinity) sb.append("Infinity")
          else if (d.isNegInfinity) sb.append("-Infinity")
          else sb.append(PyRender.floatRepr(d))
        case JStr(s) => sb.append(quote(s))
        case JArr(items) =>
          sb.append('[')
          stack.push("]")
          var i = items.length - 1
          while (i >= 0) {
            stack.push(items(i))
            if (i > 0) stack.push(", ")
            i -= 1
          }
        case JObj(fields) =>
          sb.append('{')
          stack.push("}")
          var i = fields.length - 1
          while (i >= 0) {
            stack.push(fields(i)._2)
            stack.push(s"${quote(fields(i)._1)}: ")
            if (i > 0) stack.push(", ")
            i -= 1
          }
      }
    }
    sb.toString
  }

  def quote(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2).append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"').toString
  }
}

/** Python-style textual rendering of dynamic values, so faithful-mode output
  * (CSV cells, examples) matches what pandas `str()`/`df.to_csv` produce.
  * Mirrors CPython `str()`/`repr()` for the types the reference pipeline can
  * hold in a cell (reference: backend/etl_pipeline.py:52-82, 167-226).
  */
object PyRender {

  /** python `str(x)` of a decoded JSON value. Containers render on an
    * explicit stack (like [[Json.render]]): a parse-depth value must
    * stringify without a StackOverflowError (round-16 review find — the
    * recursive form burned ~5 frames/level, re-exposing the Error class
    * the old parse-depth guard protected against).
    */
  def pyStr(v: JVal): String = v match {
    case JNull => "None"
    case JBool(b) => if (b) "True" else "False"
    case JInt(i) => i.toString
    case JFloat(d) => floatStr(d)
    case JStr(s) => s
    case container => renderContainer(container)
  }

  /** python `repr(x)` (list/dict elements render strings quoted). */
  def pyRepr(v: JVal): String = v match {
    case JStr(s) => pyReprStr(s)
    case container @ (JArr(_) | JObj(_)) => renderContainer(container)
    case other => pyStr(other)
  }

  /** `[..]`/`{..}` rendering shared by str and repr (identical for
    * containers; elements always render as repr)
    */
  private def renderContainer(v: JVal): String = {
    val sb = new StringBuilder(64)
    val stack = new java.util.ArrayDeque[Any]()
    stack.push(v)
    while (!stack.isEmpty) {
      stack.pop() match {
        case s: String => sb.append(s)
        case JArr(items) =>
          sb.append('[')
          stack.push("]")
          var i = items.length - 1
          while (i >= 0) {
            stack.push(items(i))
            if (i > 0) stack.push(", ")
            i -= 1
          }
        case JObj(fields) =>
          sb.append('{')
          stack.push("}")
          var i = fields.length - 1
          while (i >= 0) {
            stack.push(fields(i)._2)
            stack.push(s"${pyReprStr(fields(i)._1)}: ")
            if (i > 0) stack.push(", ")
            i -= 1
          }
        case JStr(s) => sb.append(pyReprStr(s)) // element position: repr
        case leaf: JVal => sb.append(pyStr(leaf))
      }
    }
    sb.toString
  }

  /** python string repr: single quotes unless the string contains a single
    * quote and no double quote.
    */
  def pyReprStr(s: String): String = {
    val useDouble = s.contains('\'') && !s.contains('"')
    val q = if (useDouble) '"' else '\''
    val sb = new StringBuilder
    sb.append(q)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case c if c == q => sb.append('\\').append(c)
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c => sb.append(c)
    }
    sb.append(q).toString
  }

  def floatStr(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isPosInfinity) "inf"
    else if (d.isNegInfinity) "-inf"
    else floatRepr(d)

  /** python `repr(float)`: shortest round-trip digits, decimal notation for
    * 1e-4 <= |x| < 1e16, else exponent form like `1e+20` / `1.5e-05`.
    * Java's `Double.toString` already produces shortest-round-trip digits
    * (JDK 19+ exactly; JDK 17 matches on all values we emit) but places the
    * exponent threshold differently — re-format its digits python-style.
    */
  def floatRepr(d: Double): String = {
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val s = java.lang.Double.toString(math.abs(d)) // e.g. "1.2345E8" or "123.45"
    val (digits, pointPos) = {
      val eIdx = s.indexOf('E')
      val (mant, exp) = if (eIdx >= 0) (s.substring(0, eIdx), s.substring(eIdx + 1).toInt) else (s, 0)
      val dot = mant.indexOf('.')
      val all = mant.substring(0, dot) + mant.substring(dot + 1)
      val stripped = all.dropWhile(_ == '0') // leading zeros shift the point left
      val lead = all.length - stripped.length
      (stripped.reverse.dropWhile(_ == '0').reverse.padTo(1, '0'), dot + exp - lead)
    }
    val sign = if (neg) "-" else ""
    // python: decimal notation iff -4 < exp10 < 16 where exp10 = pointPos - 1
    val exp10 = pointPos - 1
    if (exp10 >= 16 || exp10 < -4) {
      val mant =
        if (digits.length == 1) digits
        else digits.substring(0, 1) + "." + digits.substring(1)
      val esign = if (exp10 < 0) "-" else "+"
      f"$sign$mant%se$esign${math.abs(exp10)}%02d"
    } else if (pointPos <= 0) {
      sign + "0." + ("0" * -pointPos) + digits
    } else if (pointPos >= digits.length) {
      sign + digits + ("0" * (pointPos - digits.length)) + ".0"
    } else {
      sign + digits.substring(0, pointPos) + "." + digits.substring(pointPos)
    }
  }
}
