package graft.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Refusal

/** The per-file scan under [[WarcSource]], [[TarSource]], [[ShardSource]]
  * and [[ArrowSource]]: Spark's `binaryFile` source maps whole files to
  * partitions — for these containers the file, not the record, is the
  * parallel unit, as Common Crawl and WebDataset shard — each file decodes
  * in one stateless flatMap, and nothing shuffles unless the caller
  * aggregates. That is the 100 TB scan shape for every format here.
  */
private[ops] object FileScan {

  /** Strict scan: `decode(file, bytes)`'s rows, named `cols`, for every
    * file under `path`; the first refusal fails the scan.
    */
  def apply[R <: Product : TypeTag](spark: SparkSession, path: String, cols: String*)(
      decode: (String, Array[Byte]) => IterableOnce[R]): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (file, bytes) => decode(file, bytes) }
      .toDF(cols: _*)
  }

  /** Fault-tolerant twin over the same `decode`: `ok` of each decoded item,
    * or one `err(file, kind)` row for a file whose decode is refused (any
    * other exception maps to `fallback`). A file decodes completely before
    * its rows are emitted, so a refused file emits no partial rows.
    */
  def safe[A, R <: Product : TypeTag](spark: SparkSession, path: String, fallback: String,
      cols: String*)(decode: (String, Array[Byte]) => IterableOnce[A])(
      ok: A => R, err: (String, String) => R): DataFrame =
    apply(spark, path, cols: _*) { (file, bytes) =>
      Refusal.attempt(decode(file, bytes).iterator.toVector, fallback) match {
        case Right(items) => items.iterator.map(ok)
        case Left(kind) => Iterator.single(err(file, kind))
      }
    }
}
