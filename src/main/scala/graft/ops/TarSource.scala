package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** WebDataset ingest over [[FileScan]]: WebDataset's contract is exactly
  * that `.tar` shards, not members, are the parallel unit —
  * [[Tar.read]]+[[Tar.samples]] group members into training samples per
  * file. The tar01/tar02 oracles pin the parser byte-for-byte;
  * [[TarSourceSpec]] pins this plumbing on real temp files.
  */
object TarSource {

  private def sampleRows(file: String, bytes: Array[Byte]) =
    Tar.samples(Tar.read(bytes)).map { case (key, parts) =>
      val sorted = parts.toSeq.sortBy(_._1)
      (file, key, sorted.map(_._1), sorted.map(_._2))
    }

  /** One row per WebDataset sample across every `.tar` under `path`:
    * (file, key, exts, payloads) with parallel ext/payload arrays
    * (Spark map columns don't take binary values; parallel arrays keep
    * the bytes columnar).
    */
  def samples(spark: SparkSession, path: String): DataFrame =
    FileScan(spark, path, "file", "key", "exts", "payloads")(sampleRows)

  /** Fault-tolerant twin: a rotten shard becomes one typed error row. */
  def samplesSafe(spark: SparkSession, path: String): DataFrame =
    FileScan.safe(spark, path, "bad_header",
      "file", "ok", "err_kind", "key", "exts", "payloads")(sampleRows)(
      { case (file, key, exts, payloads) => (file, true, "", key, exts, payloads) },
      (file, kind) => (file, false, kind, "", Seq.empty[String], Seq.empty[Array[Byte]]))
}
