package graft

import java.util.Locale

import graft.etl._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, PosExplode}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

/** Plan gates for the document ETL's normalize path, on the golden
  * fixtures: the two decision aggregates (pivot key scan, normalize branch
  * decision) stay hash aggregates, the normalize kernel runs once per cell
  * in the branch decision and in the table with no cache of its rows, the
  * pipeline's table reads the extraction from its cache, and the
  * precompiled regexes of `Normalize.pyFloat` / `Normalize.inferType`
  * decide exactly as the per-call `String.matches` forms they replaced.
  */
class EtlPlanSpec extends SparkSpec {

  private def resource(path: String): JObj = {
    val in = getClass.getResourceAsStream(path)
    Json.parse(new String(in.readAllBytes(), "UTF-8")).asInstanceOf[JObj]
  }

  /** every golden input document: the pipeline fixtures and the fuzz corpus */
  private lazy val inputs: Seq[String] =
    Seq("/goldens/pipeline_goldens.json", "/goldens/fuzz_goldens.json").flatMap { p =>
      resource(p).fields.map { case (_, g) =>
        g.asInstanceOf[JObj].fields.toMap.apply("input").asInstanceOf[JStr].s
      }
    }

  /** (recs, wide, cols) of one input document */
  private def pivoted(input: String): (DataFrame, DataFrame, Seq[String]) = {
    import spark.implicits._
    val recs = DocumentEtl.extract(Seq((0L, input)).toDF("doc_id", "text"))
    val (wide, cols) = DocumentEtl.pivot(spark, recs)
    (recs, wide, cols)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  test("decision aggregates (pivot key scan, normalize branch decision) plan no SortAggregate") {
    val withCols = inputs.map(pivoted).filter(_._3.nonEmpty)
    assert(withCols.size > 50)
    withCols.foreach { case (recs, wide, cols) =>
      val decisions = Seq(
        DocumentEtl.keyScan(recs),
        DocumentEtl.branchDecision(DocumentEtl.cellKernel(wide, cols), cols.size))
      decisions.foreach { df =>
        val plan = df.queryExecution.sparkPlan
        assert(plan.collect { case s: SortAggregateExec => s }.isEmpty, plan.toString)
        assert(plan.collect { case h: HashAggregateExec => h }.nonEmpty, plan.toString)
      }
    }
  }

  /** the kernels of a plan, with the children they evaluate */
  private def kernelsOf(p: SparkPlan): Seq[Expression] =
    nodes(p).flatMap(_.expressions.flatMap(_.collect { case k: EtlCell => k.child }))

  test("normalizeData runs the kernel once per cell in each pass, caching no kernel rows") {
    for (input <- inputs.take(8)) {
      val (_, wide, cols) = pivoted(input)
      if (cols.nonEmpty) {
        val table = DocumentEtl.normalizeData(spark, wide, cols)
        val decision = DocumentEtl.branchDecision(DocumentEtl.cellKernel(wide, cols), cols.size)
        // the table passes a column through raw, with no kernel, when it
        // has no non-NA value or is a skipped list column
        val d = decision.collect()(0)
        def flag(name: String, i: Int) = Option(d.getAs[java.lang.Boolean](s"${name}_$i"))
        val raw = cols.indices.count { i =>
          flag("first", i).isEmpty || (flag("first", i).contains(false) &&
            !flag("allnum", i).contains(true) && flag("haslist", i).contains(true))
        }
        for ((df, n) <- Seq(table -> (cols.size - raw), decision -> cols.size)) {
          val cached = df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
          assert(cached.forall(r => kernelsOf(r.cacheBuilder.cachedPlan).isEmpty), cached)
          // one kernel per column, each over its own column's cell
          val kernels = kernelsOf(df.queryExecution.sparkPlan)
          assert(kernels.size == n && kernels.distinct.size == n, df.queryExecution.sparkPlan.toString)
        }
      }
    }
    graft.core.Caches.release()
  }

  test("the pipeline's table reads the extraction through its cache, and extracts no second time") {
    import spark.implicits._
    val docs = inputs.take(8).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    try {
      val table = DocumentEtl.run(spark, docs).table
      // the table is persisted: its cached plan is the normalized table's
      val Seq(own) = table.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
      val plan = nodes(own.cacheBuilder.cachedPlan)
      assert(plan.collect { case g: GenerateExec => g }.isEmpty, plan.head.toString)
      val scans = plan.collect { case s: InMemoryTableScanExec => s }
      assert(scans.size == 1, plan.head.toString)
      assert(nodes(scans.head.relation.cacheBuilder.cachedPlan)
        .exists { case g: GenerateExec => g.generator.isInstanceOf[PosExplode] case _ => false })
    } finally graft.core.Caches.release()
  }

  /** the forms the precompiled patterns replaced, verbatim */
  private def matchesPyFloat(s0: String): Option[Double] = {
    val s = s0.strip().toLowerCase(Locale.ROOT)
    val body = s.stripPrefix("+").stripPrefix("-")
    val neg = s.startsWith("-")
    if (body == "inf" || body == "infinity")
      Some(if (neg) Double.NegativeInfinity else Double.PositiveInfinity)
    else if (body == "nan") Some(Double.NaN)
    else if (body.matches("(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?"))
      try Some(s.toDouble) catch { case _: NumberFormatException => None }
    else None
  }

  private def matchesInferType(v: JVal): String = v match {
    case JNull => "null"
    case JFloat(d) if d.isNaN => "null"
    case other =>
      val s = PyRender.pyStr(other).strip()
      if (s.isEmpty) "null"
      else if (s.matches("^\\d+$")) "integer"
      else if (s.matches("^\\d*\\.\\d+$")) "float"
      else if (s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false")) "boolean"
      else if (s.matches("^" + Dates.NegNumDateRe + "$")) "date"
      else if (Dates.parses(s)) "date"
      else if (Dates.commaIntDateVote(s)) "date"
      else "string"
  }

  test("precompiled pyFloat / inferType ≡ their String.matches forms on the corpora") {
    val dateParity = resource("/goldens/date_parity.json").fields.toMap.apply("entries")
      .asInstanceOf[JArr].items.collect { case JArr(Vector(JStr(s), _, _, _)) => s }
    val normalizeKeys = resource("/goldens/normalize_value.json").fields
      .flatMap { case (_, JObj(kv)) => kv.map(_._1); case _ => Nil }
    val cells: Seq[JVal] = inputs.flatMap(in => Extract.extractAll(in).flatMap(_.map(_._2)))
    // shapes where the regex, not toDouble, decides: Java parses a type
    // suffix or hex that python's float() refuses
    val probes = Seq("1d", "2.5F", "0x1p3", "1e5", "-1E-5", "+.5", "5.", "1_0", " 7 ",
      "Infinity", "-inf", "nan", "1e", "e5", "١٢")
    val strings = (dateParity ++ normalizeKeys ++ etl.InferTypeSpec.adversarial.filter(_ != null) ++
      probes ++ cells.map(PyRender.pyStr)).distinct
    assert(strings.size > 1000)
    val values: Seq[JVal] = (strings.map(JStr(_)) ++ cells).distinct
    def bits(d: Option[Double]) = d.map(java.lang.Double.doubleToLongBits)
    val pyFloatDiffs = (strings ++ strings.map(_.replace(",", "").replace("$", "")))
      .filter(s => bits(Normalize.pyFloat(s)) != bits(matchesPyFloat(s)))
    assert(pyFloatDiffs.isEmpty, pyFloatDiffs.take(20).map(PyRender.pyReprStr).mkString("\n"))
    val inferDiffs = values.filter(v => Normalize.inferType(v) != matchesInferType(v))
    assert(inferDiffs.isEmpty, inferDiffs.take(20).mkString("\n"))
  }
}
