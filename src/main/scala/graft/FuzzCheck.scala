package graft

import graft.etl._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Fuzz-parity replay: run the document pipeline on every fixture captured
  * by tools/fuzz_parity.py and compare cell-for-cell + schema against the
  * reference's actual output. Exit 1 on any mismatch.
  *
  * Usage: runMain graft.FuzzCheck /tmp/fuzz_goldens.json
  */
object FuzzCheck {

  def main(args: Array[String]): Unit = {
    val goldenPath = args.headOption.getOrElse("/tmp/fuzz_goldens.json")
    val spark = graft.core.Session.local()

    val goldens = Json.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(goldenPath))).asInstanceOf[JObj]

    var fails = 0
    goldens.fields.foreach { case (name, g0) =>
      val ps = compareFixture(spark, g0.asInstanceOf[JObj])
      if (ps.nonEmpty) {
        fails += 1
        println(s"FAIL $name:")
        ps.take(8).foreach(p => println(s"  $p"))
      }
    }
    println(s"${goldens.fields.size - fails}/${goldens.fields.size} fuzz fixtures match")
    spark.stop()
    if (fails > 0) sys.exit(1)
  }

  private def cellOf(v: JVal): Option[String] = v match {
    case JNull => None
    case JObj(Vector(("__nan__", JBool(true)))) => None
    case other => Some(Json.render(other))
  }

  /** run one golden fixture through the pipeline; return mismatch list. */
  def compareFixture(spark: SparkSession, fixture: JObj): Vector[String] = {
    import spark.implicits._
    val g = fixture.fields.toMap
    val input = g("input").asInstanceOf[JStr].s
    val expCols = g("columns").asInstanceOf[JArr].items.map(_.asInstanceOf[JStr].s)
    val expRows = g("rows").asInstanceOf[JArr].items.map(_.asInstanceOf[JObj])
    val res = DocumentEtl.run(spark, Seq((0L, input)).toDF("doc_id", "text"))
    val problems = Vector.newBuilder[String]
    if (res.columns != expCols)
      problems += s"columns: got ${res.columns.mkString(",")} want ${expCols.mkString(",")}"
    else {
      val rows = res.table.orderBy(col("row_idx")).collect()
      if (rows.length != expRows.length)
        problems += s"rowcount: got ${rows.length} want ${expRows.length}"
      else rows.zip(expRows).zipWithIndex.foreach { case ((row, exp), i) =>
        val em = exp.fields.toMap
        expCols.foreach { c =>
          // raw "null"/"NaN" cells render as NA in every sink — compare as NA
          val got = Option(row.getAs[String](c)).filterNot(v => v == "null" || v == "NaN")
          val want = cellOf(em(c))
          if (got != want)
            problems += s"row $i col $c: got ${got.orNull} want ${want.orNull}"
        }
      }
      // schema vote check: the golden carries TWO votes per column — the
      // true dateutil vote ("schema") and the vote recomputed with
      // dateutil swapped for our exact date battery ("battery_types", see
      // tools/fuzz_parity.py). The engine must match the battery vote
      // EXACTLY — no waiver heuristics; the dateutil↔battery delta is the
      // one documented deviation and is logged, never silently absorbed.
      val expFields = g("schema").asInstanceOf[JObj].fields.toMap
        .apply("fields").asInstanceOf[JArr].items.map(_.asInstanceOf[JObj].fields.toMap)
      val batteryTypes = g.get("battery_types").getOrElse(sys.error(
          "golden file lacks 'battery_types' — pre-round-2 format; " +
            "regenerate with round-2 tools/fuzz_parity.py"))
        .asInstanceOf[JObj].fields.toMap
        .map { case (k, v) => k -> v.asInstanceOf[JStr].s }
      // exact vote ties: pandas breaks them via unreproducible internal sort
      // order; the engine's deterministic tie-break may legitimately pick any
      // member of the tied set (logged, never silent).
      val batteryTies = g.get("battery_ties").map(_.asInstanceOf[JObj].fields.toMap
        .map { case (k, v) =>
          k -> v.asInstanceOf[JArr].items.map(_.asInstanceOf[JStr].s).toSet
        }).getOrElse(Map.empty)
      res.schema.fields.zip(expFields).foreach { case (mine, ef) =>
        val en = ef("name").asInstanceOf[JStr].s
        val et = ef("type").asInstanceOf[JStr].s
        val bt = batteryTypes(en)
        if (mine.name == en && mine.tpe != bt) {
          if (batteryTies.get(en).exists(_.contains(mine.tpe)))
            println(s"  TIE schema $en: vote tied ${batteryTies(en).mkString("/")}" +
              s" — engine picked ${mine.tpe}, pandas picked $bt")
          else
            problems += s"schema $en: got ${mine.tpe} want $bt" +
              (if (et != bt) s" (dateutil would vote $et)" else "")
        } else if (mine.name == en && et != bt)
          println(s"  DEVIATION schema $en: battery votes $bt, dateutil votes $et")
      }
    }
    problems.result()
  }
}
