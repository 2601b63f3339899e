package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

import graft.core.Refusal

/** A strict file scan and its safe twin share one decoder, so they refuse
  * the same file with the same kind: the safe scan reports `bad_schema`
  * as an error row, the strict scan fails with that very refusal.
  */
class FileScanSpec extends graft.SparkSpec {

  private def withFile[A](name: String, bytes: Array[Byte])(body: Path => A): A = {
    val dir = Files.createTempDirectory("filescan")
    try { Files.write(dir.resolve(name), bytes); body(dir) }
    finally { dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete() }
  }

  private def refusalOf(scan: => DataFrame): Refusal = {
    val e = intercept[Exception](scan.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case r: Refusal => r }
      .getOrElse(fail(s"no Refusal in the cause chain of $e"))
  }

  private def errKinds(df: DataFrame): Seq[String] =
    df.filter(!df("ok")).select("err_kind").collect().map(_.getString(0)).toSeq

  test("an Avro shard with an alien lead schema: bad_schema under both scans") {
    val alien = Avro.write(Avro.Schema("k", Vector("v" -> "long")),
      Seq(Avro.Record(Vector(1L))), "null")
    withFile("alien.avro", alien) { dir =>
      assert(errKinds(ShardSource.avroDocsSafe(spark, dir.toString)) == Seq("bad_schema"))
      assert(refusalOf(ShardSource.avroDocs(spark, dir.toString)).kind == "bad_schema")
    }
  }

  test("an Arrow stream with a non-document schema: bad_schema under both scans") {
    val wrong = ArrowIpc.write(Vector(ArrowIpc.AField("x", "f64", nullable = false)),
      Seq(Vector[ArrowIpc.ACol](ArrowIpc.ADoubleCol("x", null, Array(1.5)))))
    withFile("wrong.arrows", wrong) { dir =>
      assert(errKinds(ArrowSource.recordsSafe(spark, dir.toString)) == Seq("bad_schema"))
      assert(refusalOf(ArrowSource.records(spark, dir.toString)).kind == "bad_schema")
    }
  }
}
