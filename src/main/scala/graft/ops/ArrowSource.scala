package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Refusal

/** Arrow IPC ingest over [[FileScan]] for `.arrows` stream shards: Arrow
  * streams are not splittable mid-message, so files are the parallel
  * unit, and [[ArrowIpc.read]] decodes per file. Expects record shards
  * whose schema leads with (id int64, lang utf8, text utf8) — the
  * document-record convention the arrow01 oracle pins; anything else
  * refuses as `bad_schema`. [[ArrowSourceSpec]] pins this plumbing on
  * real temp files.
  */
object ArrowSource {

  private def recordRows(file: String, bytes: Array[Byte]) = {
    val bs = ArrowIpc.read(bytes)
    if (!bs.forall(b => b.cols.length >= 3 && b.cols(0).isInstanceOf[ArrowIpc.ALongCol] &&
        b.cols(1).isInstanceOf[ArrowIpc.AStrCol] && b.cols(2).isInstanceOf[ArrowIpc.AStrCol]))
      throw new Refusal("bad_schema", s"stream $file does not lead with (id int64, lang utf8, text utf8)")
    bs.iterator.flatMap { b =>
      val ids = b.cols(0).asInstanceOf[ArrowIpc.ALongCol].v
      val lang = b.cols(1).asInstanceOf[ArrowIpc.AStrCol].v
      val text = b.cols(2).asInstanceOf[ArrowIpc.AStrCol].v
      (0 until b.nRows).iterator.map(i => (file, ids(i), lang(i), text(i)))
    }
  }

  /** One row per record across every `.arrows` stream under `path`:
    * (file, id, lang, text).
    */
  def records(spark: SparkSession, path: String): DataFrame =
    FileScan(spark, path, "file", "id", "lang", "text")(recordRows)

  /** Fault-tolerant twin: a rotten or wrong-schema stream becomes one
    * typed error row instead of a dead scan.
    */
  def recordsSafe(spark: SparkSession, path: String): DataFrame =
    FileScan.safe(spark, path, "bad_stream",
      "file", "ok", "err_kind", "id", "lang", "text")(recordRows)(
      { case (file, id, lang, text) => (file, true, "", id, lang, text) },
      (file, kind) => (file, false, kind, 0L, "", ""))
}
