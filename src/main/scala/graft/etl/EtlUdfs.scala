package graft.etl

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One extracted record on the wire: extraction sequence number + ordered
  * (key, JSON-encoded cell) entries. Arrays (not maps) so key ORDER survives
  * — the reference's output column order is first-appearance order.
  */
final case class RecEntry(k: String, v: String)
final case class ExtractedRec(seq: Int, entries: Seq[RecEntry])

/** Spark UDF wrappers around the pure-Scala ETL core. Each runs once per
  * document/cell on executors — no driver round-trips, no shuffle; the heavy
  * string work stays parallel and scales with input size.
  */
object EtlUdfs {

  /** document text → all extracted records (E1-E9). */
  val extractBlocks = udf { (text: String) =>
    Extract.extractAll(Option(text).getOrElse("")).zipWithIndex.map {
      case (rec, i) =>
        // python-dict semantics on key collisions (possible after `.`-path
        // flattening): keep LAST value, FIRST position.
        val order = scala.collection.mutable.LinkedHashMap.empty[String, JVal]
        rec.foreach { case (k, v) => order.update(k, v) }
        ExtractedRec(i, order.iterator.map { case (k, v) => RecEntry(k, Json.render(v)) }.toSeq)
    }
  }

  /** sane-mode `normalize_value` over a JSON cell. */
  val normalizeCellSane = udf { (cell: String) =>
    if (cell == null || cell == "null" || cell == "NaN") null
    else Json.parseOpt(cell) match {
      case Some(v) =>
        Normalize.normalizeCellSane(v) match {
          case JNull => null
          case out => Json.render(out)
        }
      case None => null
    }
  }

  /** T2 list flatten: a list cell comma-joins its elements' python `str()`
    * renderings; scalars pass through.
    */
  val flattenCell = udf { (cell: String) =>
    if (cell == null || !cell.startsWith("[")) cell
    else Json.parseOpt(cell) match {
      case Some(JArr(items)) => Json.quote(items.map(PyRender.pyStr).mkString(","))
      case _ => cell
    }
  }

  /** `infer_type` tag of a JSON cell. */
  val inferTypeCell = udf { (cell: String) =>
    if (cell == null) "null"
    else Json.parseOpt(cell).map(Normalize.inferType).getOrElse("string")
  }

  /** final serving rendering of a JSON cell (pandas to_csv semantics:
    * None → empty, True/False capitalized, python float repr, strings raw).
    */
  val renderCell = udf { (cell: String) =>
    if (cell == null || cell == "null" || cell == "NaN") null
    else Json.parseOpt(cell).map(PyRender.pyStr).orNull
  }

  def isNa(c: Column): Column = c.isNull || c === "null" || c === "NaN"
}

/** Faithful normalization's per-cell kernel as one Catalyst expression:
  * ONE JSON parse and ONE `normalize_value` evaluation of a wide-table cell
  * yield everything both passes of [[DocumentEtl.normalizeData]] read —
  * the branch (a)/(b) output, the branch (c) output, the output's dtype tag,
  * and the four branch-decision booleans. `doGenCode` emits a direct static
  * call into [[EtlCellKernel]] (same shape as [[NormalizeValue]]).
  */
case class EtlCell(child: Expression) extends UnaryExpression {

  override def dataType: DataType = EtlCell.schema
  override def nullable: Boolean = false
  override def prettyName: String = "etl_cell"

  override def eval(input: InternalRow): Any =
    EtlCellKernel.eval(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        InternalRow ${ev.value} = graft.etl.EtlCellKernel.eval(
          ${childGen.isNull} ? null : ${childGen.value});
        boolean ${ev.isNull} = false;
      """,
      isNull = ev.isNull, value = ev.value)
  }

  override protected def withNewChildInternal(newChild: Expression): EtlCell =
    copy(child = newChild)
}

object EtlCell {
  val schema: StructType = StructType(Seq(
    // faithful `normalize_value` output as a JSON cell (branches a/b)
    StructField("norm", StringType, nullable = true),
    // fillna('') + str(x).strip().lower() as a JSON cell (branch c) —
    // null when it equals `norm` (then `lower_is_norm`), which it does for
    // most string and integer cells: the cache keeps one copy
    StructField("lower", StringType, nullable = true),
    StructField("lower_is_norm", BooleanType, nullable = false),
    // kind of `norm`: "i"/"f"/"b"/"s"/"n"(ull) — the post-normalize
    // pandas dtype coercion counts these
    StructField("tag", StringType, nullable = false),
    StructField("na", BooleanType, nullable = false),
    // str(x) looks like a date (the first non-NA value's verdict picks
    // branch a); null for NA and unparsable cells
    StructField("date_like", BooleanType, nullable = true),
    // str(x) passes the numeric gate (branch b needs every non-NA cell to);
    // null for NA and unparsable cells
    StructField("numeric", BooleanType, nullable = true),
    // list of ≥2 elements (`pd.notna` raises → the column is skipped)
    StructField("multi_list", BooleanType, nullable = false)))

  val fields: Seq[String] = schema.fieldNames.toSeq

  def apply(c: Column): Column = Bridge.column(EtlCell(Bridge.expression(c)))
}

/** The scalar kernel behind [[EtlCell]]. Each field reproduces the UDF it
  * replaced value for value: `pyStr(cell)` feeds the date-like and numeric
  * predicates (Java-regex `find` for the numeric gate, as `rlike` ran it;
  * full match for the date prefix, as `String.matches` ran it), and
  * NA (`null`/`"null"`/`"NaN"`) and unparsable cells take the fixed rows.
  */
object EtlCellKernel {
  private val DateLike = Pattern.compile("^\\d{4}-\\d{2}-\\d{2}.*")
  private val Numeric = Pattern.compile("^(\\$|₹)?\\d+(\\.\\d+)?%?$")
  private val DtypeNames = Normalize.NumpyDtypeNames.toSet
  private val EmptyCell = UTF8String.fromString(Json.quote(""))
  private val Seq(tagN, tagI, tagF, tagB, tagS) = Seq("n", "i", "f", "b", "s").map(UTF8String.fromString)

  private def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  def eval(input: UTF8String): InternalRow = {
    val cell = if (input == null) null else input.toString
    if (cell == null || cell == "null" || cell == "NaN")
      return InternalRow(null, EmptyCell, false, tagN, true, null, null, false)
    Json.parseOpt(cell) match {
      case None => InternalRow(null, EmptyCell, false, tagN, false, null, null, false)
      case Some(v) =>
        val s = PyRender.pyStr(v)
        val out = Normalize.normalizeCell(v, s)
        val tag = out match {
          case JNull => tagN
          case _: JInt => tagI
          case _: JFloat => tagF
          case _: JBool => tagB
          case _ => tagS
        }
        // pandas quirk: an empty list (and [None]/[nan]) fails `pd.notna`
        // → branch c's lambda emits None
        val lower = v match {
          case JArr(items) if items.isEmpty => null
          case JArr(Vector(JNull)) => null
          case JArr(Vector(JFloat(d))) if d.isNaN => null
          case _ => Json.quote(s.strip().toLowerCase(java.util.Locale.ROOT))
        }
        val multiList = cell.startsWith("[") && (v match {
          case JArr(items) => items.length >= 2
          case _ => false
        })
        val norm = if (out == JNull) null else Json.render(out)
        val same = norm != null && norm == lower
        InternalRow(
          u(norm),
          if (same) null else u(lower),
          same,
          tag,
          false,
          s.length > 8 && DateLike.matcher(s).matches(),
          Numeric.matcher(s.replace(",", "")).find() || DtypeNames.contains(s),
          multiList)
    }
  }
}
