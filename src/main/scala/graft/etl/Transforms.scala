package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's declared-but-unwired transform stage (config.yaml:7-33,
  * never read by the pipeline — SURVEY.md §2.6). Implemented for real here:
  * U1 drop_duplicates, U2 dropna, U3 enrich rules as SQL expressions (the
  * reference declares python lambdas; we accept Spark SQL expression
  * strings), U4 schema validations.
  */
object Transforms {

  /** U1 — exact-duplicate removal on an optional column subset. */
  def dropDuplicates(df: DataFrame, cols: Seq[String] = Nil): DataFrame =
    if (cols.isEmpty) df.dropDuplicates() else df.dropDuplicates(cols)

  /** U2 — drop rows with any (or per-subset) nulls. */
  def dropNa(df: DataFrame, cols: Seq[String] = Nil): DataFrame =
    if (cols.isEmpty) df.na.drop() else df.na.drop(cols)

  /** U3 — derived columns from SQL expression strings, applied in order. */
  def enrich(df: DataFrame, rules: Seq[(String, String)]): DataFrame =
    rules.foldLeft(df) { case (d, (name, e)) => d.withColumn(name, expr(e)) }

  /** U4 — validations: required columns present; declared types match the
    * value-level `infer_type` battery (a column passes when every non-null
    * value infers to the declared tag). Returns a report DataFrame
    * (check, passed, detail=violation count) instead of throwing, so it
    * composes; `assertValid` gives the fail-fast behavior.
    */
  def validationReport(df: DataFrame, required: Seq[String],
      types: Map[String, String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val missing = required.filterNot(df.columns.contains)
    val presentRow = Seq(("required_columns", missing.isEmpty, missing.size.toLong)).toDF(
      "check_name", "passed", "detail")
    val typeChecks = types.toSeq.sortBy(_._1).filter { case (c, _) => df.columns.contains(c) }
    if (typeChecks.isEmpty) presentRow
    else {
      val aggs = typeChecks.map { case (c, tpe) =>
        sum(when(col(s"`$c`").isNotNull &&
          NormalizeCol.inferType(col(s"`$c`").cast("string")) =!= tpe, 1L)
          .otherwise(0L)).as(c)
      }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val typeRows = typeChecks.zipWithIndex.map { case ((c, tpe), i) =>
        val bad = row.getLong(i)
        (s"type:$c=$tpe", bad == 0L, bad)
      }
      presentRow.unionByName(typeRows.toDF("check_name", "passed", "detail"))
    }
  }

  def assertValid(df: DataFrame, required: Seq[String], types: Map[String, String]): Unit = {
    val fails = validationReport(df, required, types)
      .filter(!col("passed")).collect()
    if (fails.nonEmpty)
      throw new IllegalStateException(
        "validation failed: " + fails.map(_.getString(0)).mkString(", "))
  }
}
