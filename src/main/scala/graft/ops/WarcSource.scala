package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** WARC ingest over [[FileScan]], the shape a real 100 TB crawl job runs:
  * WARC's one-gzip-member-per-record layout makes files, not splits, the
  * parallel unit (Common Crawl ships ~1 GB files, thousands per crawl),
  * and [[Warc.read]] parses per file. The warc01-03 oracles pin the
  * parser byte-for-byte; [[WarcSourceSpec]] pins this plumbing on real
  * temp files.
  */
object WarcSource {

  private def responseRecords(file: String, bytes: Array[Byte]) =
    Warc.read(bytes).collect { case r if r.warcType == "response" => (file, r) }

  /** One row per HTTP response record across every `.warc`/`.warc.gz`
    * under `path`: (file, uri, status, content_type, payload).
    */
  def responses(spark: SparkSession, path: String): DataFrame =
    FileScan(spark, path, "file", "uri", "status", "content_type", "payload") { (file, bytes) =>
      responseRecords(file, bytes).map { case (_, r) =>
        val h = Warc.parseHttpResponse(r.body)
        (file, r.targetUri, h.status, h.header("Content-Type").getOrElse(""), h.body)
      }
    }

  /** Fault-tolerant twin: a rotten file contributes one typed error row
    * (`ok = false`, `err_kind` from [[Warc.readSafe]]'s stable vocabulary)
    * instead of failing the scan — and a structurally valid file whose
    * individual HTTP payload is malformed contributes one typed error row
    * for THAT record, so one bad record never kills the whole scan.
    */
  def responsesSafe(spark: SparkSession, path: String): DataFrame =
    FileScan.safe(spark, path, "bad_record",
      "file", "ok", "err_kind", "uri", "status", "payload")(responseRecords)(
      { case (file, r) => Warc.parseHttpResponseSafe(r.body) match {
        case Right(h) => (file, true, "", r.targetUri, h.status, h.body)
        case Left(kind) => (file, false, kind, r.targetUri, 0, Array.emptyByteArray)
      } },
      (file, kind) => (file, false, kind, "", 0, Array.emptyByteArray))
}
