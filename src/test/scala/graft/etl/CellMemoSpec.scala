package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime, ZoneId}
import java.util.TimeZone

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** The per-task memo in front of the cell kernel returns exactly what the
  * kernel returns: on every golden, date-parity and adversarial input, for
  * a key whose bytes are overwritten after it was stored, across a local
  * midnight, and end to end through `normalizeData` with and without
  * generated code and with a run date that changes between its passes.
  */
class CellMemoSpec extends SparkSpec {

  private def resource(path: String): JObj = {
    val in = getClass.getResourceAsStream(path)
    Json.parse(new String(in.readAllBytes(), UTF_8)).asInstanceOf[JObj]
  }

  private def field(o: JVal, k: String): JVal = o.asInstanceOf[JObj].fields.toMap.apply(k)

  /** every golden input document: the pipeline fixtures and the fuzz corpus */
  private lazy val documents: Seq[String] =
    Seq("/goldens/pipeline_goldens.json", "/goldens/fuzz_goldens.json").flatMap { p =>
      resource(p).fields.map { case (_, g) => field(g, "input").asInstanceOf[JStr].s }
    }

  private lazy val dateParity: Seq[String] =
    field(resource("/goldens/date_parity.json"), "entries").asInstanceOf[JArr].items
      .collect { case JArr(Vector(JStr(s), _, _, _)) => s }

  private lazy val cells: Seq[JVal] =
    documents.flatMap(d => Extract.extractAll(d).flatMap(_.map(_._2)))

  /** raw strings: date-parity shapes, the adversarial list (null included)
    * and the python `str()` of every extracted cell
    */
  private lazy val strings: Seq[String] =
    (dateParity ++ InferTypeSpec.adversarial ++ cells.map(PyRender.pyStr)).distinct

  /** JSON cells as the wide table holds them: every extracted cell rendered,
    * and every raw string both quoted and as it is (unparsable or a number)
    */
  private lazy val jsonCells: Seq[String] =
    (cells.map(Json.render) ++ strings ++ strings.filter(_ != null).map(Json.quote)).distinct

  private def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  private def row(r: InternalRow): Seq[Any] = r.toSeq(EtlCell.schema)

  /** counts the kernel's runs and its run-date reads */
  private class Counted {
    var calls = 0
    var dateReads = 0
    def memo(expiresAt: Long = Long.MinValue, date: LocalDate = null): CellMemo =
      new CellMemo((s, today) => {
        calls += 1
        EtlCellKernel.eval(s, () => { dateReads += 1; today() })
      }, expiresAt, date)
  }

  test("memo ≡ EtlCellKernel on the golden, date-parity and adversarial cells") {
    assert(jsonCells.size > 5000)
    // each input twice, in one seeded shuffled order, through one memo
    val order = new Random(7).shuffle(jsonCells ++ jsonCells)
    val memo = CellMemo.etlCell()
    val diffs = order.filter(s => row(memo.eval(u(s))) != row(EtlCellKernel.eval(u(s))))
    assert(diffs.isEmpty, diffs.take(20).map(PyRender.pyReprStr).mkString("\n"))
  }

  test("repeated cells hit; a null cell bypasses the memo") {
    val counted = new Counted
    val memo = counted.memo()
    val cells = Seq("\"O\"", "\"F\"", "\"1-URGENT\"", "42", "\"2024-01-05\"")
    for (_ <- 1 to 100; c <- cells) memo.eval(u(c))
    assert(counted.calls == cells.size)
    memo.eval(null)
    memo.eval(null)
    assert(counted.calls == cells.size + 2)
  }

  test("only a cell that reaches the date parser reads the run date") {
    val counted = new Counted
    val memo = counted.memo()
    // "2024-01-05" takes the phone branch; "5 Jan" is parsed with today's year
    val plain = Seq("\"O\"", "42", "\"2024-01-05\"", "null", "[1, 2]", "\"json\"")
    val reading = plain.filter { c =>
      val before = counted.dateReads
      memo.eval(u(c))
      counted.dateReads > before
    }
    assert(reading.isEmpty)
    assert(memo.boundary == Long.MinValue, "no clock read without a date read")
    memo.eval(u("\"5 Jan\""))
    assert(counted.dateReads == 1)
    assert(row(memo.eval(u("\"5 Jan\""))) == row(EtlCellKernel.eval(u("\"5 Jan\""))))
    assert(counted.calls == plain.size + 1)
  }

  test("a key does not alias its input: overwriting the bytes it was read from cannot hit a stale entry") {
    val first = "\"1-URGENT\""
    val slot = (s: String) => s.hashCode & (CellMemo.Slots - 1)
    // a second cell of the same length that lands in the same slot
    val second = Iterator.from(0).map(i => f"\"x-$i%06d\"")
      .find(s => s.length == first.length && slot(s) == slot(first)).get
    assert(row(EtlCellKernel.eval(u(first))) != row(EtlCellKernel.eval(u(second))))

    val memo = CellMemo.etlCell()
    val buf = first.getBytes(UTF_8)
    memo.eval(UTF8String.fromBytes(buf))
    System.arraycopy(second.getBytes(UTF_8), 0, buf, 0, buf.length)
    assert(row(memo.eval(UTF8String.fromBytes(buf))) == row(EtlCellKernel.eval(u(second))))
    assert(row(memo.eval(u(first))) == row(EtlCellKernel.eval(u(first))))
  }

  test("the first date read after local midnight drops every dated row, and only those") {
    val t0 = System.currentTimeMillis()
    val zone = ZoneId.systemDefault()
    val first = CellMemo.etlCell()
    first.eval(u("\"5 Jan\""))
    assert(first.boundary >= CellMemo.nextMidnight(t0, zone))
    assert(first.boundary <= CellMemo.nextMidnight(System.currentTimeMillis(), zone))

    val counted = new Counted
    val memo = counted.memo(t0 + 300, LocalDate.now())
    val (plain, dated, other) = (u("\"O\""), u("\"5 Jan\""), u("\"6 Jan\""))
    for (_ <- 1 to 2) { memo.eval(plain); memo.eval(dated); memo.eval(other) }
    assert(counted.calls == 3)
    while (System.currentTimeMillis() < t0 + 300) Thread.sleep(20)
    val t1 = System.currentTimeMillis()
    memo.eval(plain)
    assert(counted.calls == 3, "a row that read no date stays")
    assert(memo.boundary == t0 + 300)
    assert(row(memo.eval(dated)) == row(EtlCellKernel.eval(dated)))
    assert(counted.calls == 4, "the boundary passed: the dated row must be recomputed")
    assert(memo.boundary >= CellMemo.nextMidnight(t1, zone))
    assert(memo.boundary <= CellMemo.nextMidnight(System.currentTimeMillis(), zone))
    // the new boundary must not revive a row computed with the old date
    memo.eval(other)
    assert(counted.calls == 5, "every dated row is dropped, not only the one looked up")
    memo.eval(dated)
    memo.eval(other)
    memo.eval(plain)
    assert(counted.calls == 5)
  }

  test("nextMidnight is the first local midnight strictly after the instant") {
    for (zone <- Seq("UTC", "America/New_York", "Asia/Kolkata", "America/Sao_Paulo").map(ZoneId.of)) {
      def at(t: LocalDateTime) = t.atZone(zone).toInstant.toEpochMilli
      val day = LocalDate.of(2024, 3, 10)
      val midnight = at(day.plusDays(1).atStartOfDay)
      assert(CellMemo.nextMidnight(at(day.atTime(23, 59, 59, 999000000)), zone) == midnight)
      assert(CellMemo.nextMidnight(at(day.atTime(12, 0)), zone) == midnight)
      assert(CellMemo.nextMidnight(midnight, zone) == at(day.plusDays(2).atStartOfDay))
    }
  }

  /** normalizeData's rows for every pipeline fixture, one per run, and for
    * the fuzz corpus as one multi-document run
    */
  private def normalized(): Seq[Seq[String]] = {
    import spark.implicits._
    val pipeline = resource("/goldens/pipeline_goldens.json").fields.map { case (_, g) =>
      Seq((0L, field(g, "input").asInstanceOf[JStr].s))
    }
    val fuzz = resource("/goldens/fuzz_goldens.json").fields.zipWithIndex.map {
      case ((_, g), i) => (i.toLong, field(g, "input").asInstanceOf[JStr].s)
    }
    try (pipeline :+ fuzz).map { docs =>
      val recs = DocumentEtl.extract(docs.toDF("doc_id", "text"))
      val (wide, cols) = DocumentEtl.pivot(spark, recs)
      val table: DataFrame = DocumentEtl.normalizeData(spark, wide, cols)
      table.orderBy(col("doc_id"), col("row_idx")).collect().map(_.mkString("\u0001")).toSeq
    }
    finally graft.core.Caches.release()
  }

  test("normalizeData gives the same rows with and without generated code") {
    val generated = normalized()
    assert(generated.map(_.size).sum > 100)
    val conf = spark.conf
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted =
      try normalized()
      finally {
        conf.unset("spark.sql.codegen.factoryMode")
        conf.unset("spark.sql.codegen.wholeStage")
      }
    assert(generated == interpreted)
  }

  test("one memo per generated class, shared by every EtlCell column") {
    import spark.implicits._
    val input = field(resource("/goldens/pipeline_goldens.json").fields.head._2, "input")
      .asInstanceOf[JStr].s
    val (wide, cols) = DocumentEtl.pivot(spark,
      DocumentEtl.extract(Seq((0L, input)).toDF("doc_id", "text")))
    assert(cols.size > 1)
    val sources = DocumentEtl.cellKernel(wide, cols).queryExecution.debug.codegenToSeq()
      .map(_._2).filter(_.contains("etlCellMemo.eval("))
    assert(sources.size == 1)
    assert("private graft.etl.CellMemo etlCellMemo;".r.findAllIn(sources.head).size == 1,
      sources.head)
    assert("etlCellMemo = graft.etl.CellMemo.etlCell\\(\\);".r.findAllIn(sources.head).size == 1)
    assert("etlCellMemo\\.eval\\(".r.findAllIn(sources.head).size == cols.size)
  }

  test("a run date that changes between normalizeData's passes: the decision holds, every output cell takes the table's date") {
    // the decision fields (tag, na, date_like, numeric, multi_list) never
    // depend on the run date
    val dates = Seq(LocalDate.of(2024, 2, 29), LocalDate.of(2023, 3, 1),
      LocalDate.of(1999, 12, 31), LocalDate.of(2000, 1, 1), LocalDate.of(2076, 6, 15))
    def decision(cell: String, d: LocalDate): Seq[Any] =
      row(EtlCellKernel.eval(cell, () => d)).drop(EtlCell.fields.indexOf("tag"))
    val dependent = jsonCells.filter(c => dates.map(decision(c, _)).distinct.size > 1)
    assert(dependent.isEmpty, dependent.take(20).mkString("\n"))

    // the local dates in these zones, 26 hours apart, always differ: moving
    // the JVM's zone between the passes moves the run date past at least
    // one midnight (this document's outputs differ only across a new year)
    import spark.implicits._
    val (west, east) = ("Etc/GMT+12", "Pacific/Kiritimati")
    assert(LocalDate.now(ZoneId.of(west)) != LocalDate.now(ZoneId.of(east)))
    val doc = Seq("2024-01-05 10:00:00", "Jan 2024", "10:30", "5 Jan", "03/04/05")
      .map(d => s"""{"when": "$d", "st": "O", "n": 1}""").mkString("[", ", ", "]")
    def table(decideIn: String, outputIn: String): Seq[String] = {
      val zone = TimeZone.getDefault
      try {
        TimeZone.setDefault(TimeZone.getTimeZone(decideIn))
        val (wide, cols) = DocumentEtl.pivot(spark,
          DocumentEtl.extract(Seq((0L, doc)).toDF("doc_id", "text")))
        val t = DocumentEtl.normalizeData(spark, wide, cols)
        TimeZone.setDefault(TimeZone.getTimeZone(outputIn))
        t.orderBy(col("row_idx")).collect().map(_.mkString("\u0001")).toSeq
      } finally TimeZone.setDefault(zone)
    }
    assert(table(west, east) == table(east, east))
  }
}
