package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The fused [[InferTypeTag]] kernel must be cell-for-cell identical to
  * the declarative Column chain ([[NormalizeCol.inferTypeColumnChain]],
  * the structural mirror of the DuckDB oracle SQL) — on the full date
  * parity corpus AND on the adversarial non-date shapes the reference
  * battery exercises. Both run through real Spark execution (codegen
  * path), not just the scalar kernel.
  */
class InferTypeSpec extends SparkSpec {

  private def goldenInputs: Vector[String] = {
    val in = getClass.getResourceAsStream("/goldens/date_parity.json")
    val JObj(fields) = Json.parse(new String(in.readAllBytes(), "UTF-8")): @unchecked
    fields.toMap.apply("entries").asInstanceOf[JArr].items.map {
      case JArr(Vector(JStr(s), _, _, _)) => s
      case other => fail(s"bad golden row: $other")
    }
  }

  import InferTypeSpec.adversarial

  test("fused kernel ≡ Column chain on the parity corpus + adversarial shapes") {
    import scala.jdk.CollectionConverters._
    val inputs = (goldenInputs ++ adversarial).distinct
    val df = spark.createDataFrame(
      inputs.map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val both = df.select(col("cell"),
      NormalizeCol.inferType(col("cell")).as("fused"),
      NormalizeCol.inferTypeColumnChain(col("cell")).as("chain"))
    val diff = both.filter(col("fused") =!= col("chain")).collect()
    assert(diff.isEmpty, diff.take(40).map(r =>
      s"input=${PyRender.pyReprStr(String.valueOf(r.get(0)))} fused=${r.get(1)} chain=${r.get(2)}")
      .mkString("\n"))
  }

  test("ProfileBuffer.rawTag (the one-pass profiler's tagger) shares the kernel verdict") {
    // the round-10 contract: etl03's Column path and etl09's
    // TypedImperativeAggregate path must tag every cell identically —
    // including the date battery's charset gate and jump-token
    // normalization the old inline rawTag probes skipped
    val inputs = (goldenInputs ++ adversarial).distinct.filter(_ != null)
    val diff = inputs.filter(s =>
      ProfileBuffer.rawTag(s) != InferTypeKernel.tagString(s))
    assert(diff.isEmpty, diff.take(20).map(PyRender.pyReprStr).mkString("\n"))
    // and a date shape the OLD rawTag would have mis-tagged as string:
    assert(ProfileBuffer.rawTag("Mon, 10 Feb 2025") == "date")
    assert(ProfileBuffer.rawTag("2025-11-05.") == "date")
  }
}

object InferTypeSpec {
  /** adversarial non-date and near-date shapes the reference battery exercises */
  val adversarial: Vector[String] = Vector(
    null, "", "   ", "123456", "007", "123.456", ".5", "5.", "TRUE", "False",
    " true ", "NA", "USER7@EX.COM", "Clerk#000000951", "$1,234", "43%",
    "2025-11-05", "2025-11-11T20:30:05Z", "11/31/2024", "Jan 5, 2024",
    "10:30 Jan 5 2024", "3 PM Jan 5 2024", "1:23", "12 AM", "a1b2c3",
    "2024", "31.12.2023", "5th Mar 2024", "Mon, 10 Feb 2025", "'24 Jan 5",
    "123\n", "1 2 3", "- 5", "-5.5", "text, with comma", "10:30",
    "2025-11-05.", "2025-11-05 ,", "  2025-11-05  ", "\t2025-11-05")
}
