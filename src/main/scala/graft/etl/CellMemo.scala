package graft.etl

import java.time.{Instant, LocalDate, ZoneId}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** A direct-mapped memo in front of [[EtlCellKernel]]: [[CellMemo.Slots]]
  * slots, each holding the last (cell, kernel row) pair whose cell hashed
  * there. A lookup decodes the cell to a `String` (the kernel's first step,
  * so a miss hands it on), compares its hash and then its characters with
  * the slot's key, and on a hit returns the stored row; on a miss it runs
  * the kernel and overwrites the slot. The key is that decoded string, so
  * it never points into the child's (possibly reused) row buffer. The
  * kernel is a pure function of the cell string and the run date, and its
  * rows are immutable and own their strings, so a hit returns exactly what
  * the kernel would.
  *
  * The kernel reads the run date (dateutil fills missing fields from today)
  * only for cells that reach its date parser, and it reads it from the
  * memo. The memo then reads the clock, marks the slot being filled as
  * dated, and keeps the date until the next local midnight. A hit on a
  * dated slot reads the clock once more; the first date read at or after
  * that midnight drops every dated slot. So the memo never serves a row
  * computed on another date, and a cell that never reaches the date parser
  * costs no clock read.
  *
  * Not thread-safe: generated code creates one per generated class instance,
  * which is one per task.
  */
final class CellMemo private[etl] (kernel: (String, () => LocalDate) => InternalRow,
    private var expiresAt: Long, private var date: LocalDate) {
  private val hashes = new Array[Int](CellMemo.Slots)
  private val keys = new Array[String](CellMemo.Slots)
  private val rows = new Array[InternalRow](CellMemo.Slots)
  private val dated = new Array[Boolean](CellMemo.Slots)
  /** set when the kernel run of the current miss reads the date */
  private var readDate = false

  private val today: () => LocalDate = () => {
    val now = System.currentTimeMillis()
    if (now >= expiresAt) {
      var i = 0
      while (i < CellMemo.Slots) {
        if (dated(i)) { keys(i) = null; dated(i) = false }
        i += 1
      }
      val zone = ZoneId.systemDefault()
      date = Instant.ofEpochMilli(now).atZone(zone).toLocalDate
      expiresAt = CellMemo.nextMidnight(now, zone)
    }
    readDate = true
    date
  }

  def eval(input: UTF8String): InternalRow = {
    if (input == null) return kernel(null, today)
    val cell = input.toString
    val hash = cell.hashCode
    val slot = hash & (CellMemo.Slots - 1)
    val key = keys(slot)
    if (key != null && hashes(slot) == hash && key == cell &&
        (!dated(slot) || System.currentTimeMillis() < expiresAt)) rows(slot)
    else {
      readDate = false
      val row = kernel(cell, today)
      hashes(slot) = hash
      keys(slot) = cell
      rows(slot) = row
      dated(slot) = readDate
      row
    }
  }

  private[etl] def boundary: Long = expiresAt
}

object CellMemo {
  /** ~2 MB per memo when full, at ~250 B per entry */
  val Slots = 8192

  def etlCell(): CellMemo = new CellMemo(EtlCellKernel.eval, Long.MinValue, null)

  /** epoch millis of the first local midnight after `now` in `zone` */
  private[etl] def nextMidnight(now: Long, zone: ZoneId): Long =
    Instant.ofEpochMilli(now).atZone(zone).toLocalDate.plusDays(1)
      .atStartOfDay(zone).toInstant.toEpochMilli
}
