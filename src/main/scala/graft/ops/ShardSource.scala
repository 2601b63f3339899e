package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Refusal

/** [[FileScan]] ingest for the record-shard containers: [[Avro]],
  * [[TfRecord]] and compressed-JSONL [[Zstd]] shards.
  *
  * Document shards follow the engine's lead-column contract (the
  * [[graft.streaming.CorpusStreams.avroScan]] rule): an Avro schema must
  * lead with (long, string, string) = (id, lang, text); anything else is
  * a typed `bad_schema` refusal, never a guess.
  */
object ShardSource {

  private def avroDocRows(file: String, bytes: Array[Byte]) = {
    val (schema, recs) = Avro.read(bytes)
    if (schema.fields.take(3).map(_._2) != Vector("long", "string", "string"))
      throw new Refusal("bad_schema",
        s"shard $file does not lead with (id long, lang string, text string)")
    recs.map(r => (file, r.values(0).asInstanceOf[Long],
      r.values(1).asInstanceOf[String], r.values(2).asInstanceOf[String]))
  }

  /** One row per record across every Avro container under `path`. */
  def avroDocs(spark: SparkSession, path: String): DataFrame =
    FileScan(spark, path, "file", "id", "lang", "text")(avroDocRows)

  /** Fault-tolerant twin: one typed error row per rotten shard. */
  def avroDocsSafe(spark: SparkSession, path: String): DataFrame =
    FileScan.safe(spark, path, "bad_record",
      "file", "ok", "err_kind", "id", "lang", "text")(avroDocRows)(
      { case (file, id, lang, text) => (file, true, "", id, lang, text) },
      (file, kind) => (file, false, kind, 0L, "", ""))

  private def tfRecordRows(file: String, bytes: Array[Byte]) =
    TfRecord.read(bytes).zipWithIndex.map { case (p, i) => (file, i, p) }

  /** One row per record across every TFRecord shard under `path`:
    * payloads stay opaque bytes (real pipelines put tf.Example protos
    * there) with their in-shard ordinal.
    */
  def tfRecords(spark: SparkSession, path: String): DataFrame =
    FileScan(spark, path, "file", "idx", "payload")(tfRecordRows)

  /** Fault-tolerant twin: one typed error row per rotten shard. */
  def tfRecordsSafe(spark: SparkSession, path: String): DataFrame =
    FileScan.safe(spark, path, "truncated",
      "file", "ok", "err_kind", "idx", "payload")(tfRecordRows)(
      { case (file, i, p) => (file, true, "", i, p) },
      (file, kind) => (file, false, kind, -1, Array.emptyByteArray))

  /** The codec is sniffed by magic per file — the mixed directory case;
    * `.br` routes by extension since brotli carries no magic.
    */
  private def jsonlRows(file: String, bytes: Array[Byte]) =
    new String(Zstd.decompressNamed(file, bytes), UTF_8)
      .split('\n').iterator.zipWithIndex.map { case (l, i) => (file, i, l) }

  /** One row per line across every compressed JSONL shard under `path`. */
  def jsonlLines(spark: SparkSession, path: String): DataFrame =
    FileScan(spark, path, "file", "idx", "line")(jsonlRows)

  /** Fault-tolerant twin: one typed error row per rotten frame. */
  def jsonlLinesSafe(spark: SparkSession, path: String): DataFrame =
    FileScan.safe(spark, path, "bad_frame",
      "file", "ok", "err_kind", "idx", "line")(jsonlRows)(
      { case (file, i, l) => (file, true, "", i, l) },
      (file, kind) => (file, false, kind, -1, ""))
}
