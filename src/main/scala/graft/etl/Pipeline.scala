package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end document ETL pipeline — Spark-first re-expression of the
  * reference's single-node flow (reference: backend/etl_pipeline.py:295-319):
  *
  *   docs(doc_id, text)
  *     → extract (E1-E9 generator UDF + explode; per-doc, no shuffle)
  *     → pivot   (dynamic schema union: one tiny key-collect agg + a
  *                metadata-only wide projection — the json_normalize step)
  *     → normalize (T5 two-pass: one wide hash aggregate over the cell
  *                kernel — one JSON parse and one normalize_value per cell —
  *                decides each column's branch; one kernel projection
  *                applies it — no per-column jobs)
  *     → profile  (Profile.generateSchema: single long-format shuffle)
  *     → registry diff + save, CSV/parquet sinks
  *
  * Caches: the extraction `recs` is read by the pivot key scan, the branch
  * decision and the normalized table, so it stays cached until the profile
  * has materialized the normalized table (registry mode) or until
  * graft.core.Caches.release at query end.
  *
  * The whole thing is lazy DataFrame DAG; only the pivot key-set and the
  * branch decisions hit the driver (both are schema-sized, not data-sized).
  * Unlike the reference, the input may hold MANY documents — they are
  * processed as one logical table, partition-parallel.
  */
object DocumentEtl {
  import EtlUdfs._

  /** Read a directory/file of .txt/.md documents as (doc_id, text) rows —
    * source S1. PDF extraction (S2) is pluggable via [[DocTextExtractor]];
    * unsupported extensions raise (S3).
    */
  def readDocuments(spark: SparkSession, path: String,
      extractor: DocTextExtractor = PlainTextExtractor): DataFrame = {
    import spark.implicits._
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.*").load(path)
      .select(col("path"), col("content"))
    val ex = udf((p: String, c: Array[Byte]) => extractor.extract(p, c))
    bin.select(
      xxhash64(col("path")).as("doc_id"),
      ex(col("path"), col("content")).as("text"))
  }

  /** Pipeline output. `schema` and `diff` are LAZY: without a registry the
    * profiling aggregates behind them only run when a caller reads them, so
    * consumers that re-profile the table themselves (or only need the
    * normalized rows) don't pay a schema pass they discard. With a
    * registry, `run` forces both eagerly (the save is a run side effect).
    */
  final case class Result(
      table: DataFrame, // (row_idx, <output cols as JSON cells>)
      columns: Seq[String],
      private val schemaThunk: () => EngineSchema,
      private val diffThunk: () => Option[JVal]) {
    lazy val schema: EngineSchema = schemaThunk()
    lazy val diff: Option[JVal] = diffThunk()
  }

  /** Normalization mode: Faithful reproduces the reference's branch-order
    * quirks (default, golden/oracle target); Sane applies the cleaned-up
    * chain (numbers before booleans, no phone-branch digit-string quirk,
    * nulls stay null) uniformly to every column — SURVEY.md §2.3.
    */
  sealed trait Mode
  case object Faithful extends Mode
  case object Sane extends Mode

  def run(
      spark: SparkSession,
      docs: DataFrame,
      sourceId: String = "default_source",
      registryDir: Option[String] = None,
      now: Long = System.currentTimeMillis() / 1000,
      mode: Mode = Faithful): Result = {

    // extraction is consumed by three downstream jobs (the pivot key scan,
    // the branch decision, the normalized table) — persist it, and
    // spread single-file inputs across cores first (CPU-bound UDF).
    val recs = extract(
      docs.transform(graft.core.Par.spread))
      .transform(graft.core.Caches.persistLevel(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val (wide, cols) = pivot(spark, recs)
    val norm0 =
      if (mode == Sane)
        wide.select(col("doc_id") +: col("row_idx") +:
          cols.map(c => normalizeCellSane(col(s"`$c`")).as(c)): _*)
      else normalizeData(spark, wide, cols)
    val normalized = flattenLists(norm0, cols)
      .transform(graft.core.Caches.persistLevel(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    registryDir match {
      case Some(dir) =>
        // registry mode is EAGER: the schema must be generated and saved
        // as a side effect of the run (and the diff reads the OLD entry
        // before the save). generateSchema's aggregates materialize
        // `normalized` fully, so the extraction cache has served its last
        // consumer — free it after.
        val schema = Profile.generateSchema(normalized, cols, now)
        recs.unpersist(blocking = false)
        val reg = new SchemaRegistry(dir)
        val diff = reg.load(sourceId)
          .map(old => SchemaDiff.diff(old.toJson, schema.toJson))
        reg.save(sourceId, schema)
        Result(normalized, cols, () => schema, () => diff)
      case None =>
        // no registry: defer the schema aggregates until a caller actually
        // reads `.schema` — consumers that only need the normalized table
        // (e.g. a downstream profile/stats job) skip a full profiling pass.
        // No eager normalized.count() either — the first consumer job
        // materializes the cache; `recs` stays registered in
        // graft.core.Caches (persistLevel), so the harness releases it at
        // query end.
        Result(normalized, cols,
          () => Profile.generateSchema(normalized, cols, now), () => None)
    }
  }

  /** extract + explode: one row per extracted record, with a global
    * `row_idx` preserving (document, extraction-sequence) order.
    */
  def extract(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(extractBlocks(col("text"))).as(Seq("_p", "rec")))
      .select(
        col("doc_id"),
        // doc_id may be a full-range hash (readDocuments uses xxhash64) —
        // reduce mod Long.MaxValue/1e6 before packing so the multiply can't
        // overflow; small sequential ids are unaffected (pmod = identity).
        (pmod(col("doc_id"), lit(9223372036854L)) * 1000000L + col("rec.seq")).as("row_idx"),
        col("rec.entries").as("entries"))

  /** E10 — the json_normalize pivot: records of ordered (key, cell) entries
    * → wide table. Key set + first-appearance order come from one small
    * aggregate (a schema-sized collect, same as json_normalize's column
    * discovery); the projection itself is pure metadata.
    *
    * Faithfully emulates pandas' dtype coercion: a column whose non-null
    * values are all numeric becomes float64 when it has any float OR any
    * missing/null slot — i.e. ints like `3` read back as `3.0`
    * (`json_normalize` → int64/float64/object inference). This is observable
    * in the reference output, so it's semantics, not an artifact.
    */
  def pivot(spark: SparkSession, recs: DataFrame): (DataFrame, Seq[String]) = {
    // the key table is schema-sized — sort it on the DRIVER instead of
    // paying a single-partition sort exchange before the collect (round 18)
    val (counted, keyStats) = keyScan(recs).collect()
      .sortBy(r => (r.getAs[Long]("first_row"), r.getAs[Int]("first_pos")))
      .partition(_.isNullAt(0))
    val total = counted.headOption.fold(0L)(_.getAs[Long]("cnt"))

    val keys = keyStats.map(_.getAs[String]("k")).toSeq
    val castFloat = keyStats.filter { r =>
      val cnt = r.getAs[Long]("cnt"); val nNull = r.getAs[Long]("n_null")
      val nInt = r.getAs[Long]("n_int"); val nFloat = r.getAs[Long]("n_float")
      val nonNull = cnt - nNull
      val numericOnly = nonNull > 0 && nInt + nFloat == nonNull
      numericOnly && nInt > 0 && (nFloat > 0 || nNull > 0 || cnt < total)
    }.map(_.getAs[String]("k")).toSet

    val m = map_from_entries(col("entries"))
    val wide = recs.select(
      col("doc_id") +: col("row_idx") +: keys.map { k =>
        val cell = element_at(m, k)
        if (castFloat(k))
          when(cell.rlike("^-?\\d+$"), concat(cell, lit(".0"))).otherwise(cell).as(k)
        else cell.as(k)
      }: _*)
    (wide, keys)
  }

  /** The pivot's one key-scan aggregate: per key (first row, its position,
    * count, null / int / float cell counts), plus one NULL-key row whose
    * count is the record count.
    */
  private[graft] def keyScan(recs: DataFrame): DataFrame = {
    val v = col("e.v")
    val isNullLike = v === "null"
    val isInt = v.rlike("^-?\\d+$")
    val isFloat = v.rlike("^-?(\\d+\\.\\d*|\\.\\d+|\\d+(\\.\\d*)?[eE][+-]?\\d+)$") ||
      v.isin("NaN", "Infinity", "-Infinity")
    // every record gets one extra entry with a NULL key (object keys never
    // are): that group's count is the record count, so the row count rides
    // the key scan instead of a separate count() job over recs
    val counter = struct(lit(null).cast("string").as("k"), lit(null).cast("string").as("v"))
    recs
      .select(col("row_idx"),
        posexplode(concat(col("entries"), array(counter))).as(Seq("pos", "e")))
      .groupBy(col("e.k").as("k"))
      .agg(
        // a key occurs at most once per record, so (min row_idx, its pos)
        // is the old min(struct(row_idx, pos)) without a struct buffer —
        // the aggregate stays a HashAggregate
        min(col("row_idx")).as("first_row"),
        min_by(col("pos"), col("row_idx")).as("first_pos"),
        count(lit(1)).as("cnt"),
        sum(isNullLike.cast("long")).as("n_null"),
        sum(isInt.cast("long")).as("n_int"),
        sum(isFloat.cast("long")).as("n_float"))
  }

  /** T5 — per-column normalization dispatch (reference:
    * backend/etl_pipeline.py:209-226). Two passes over ONE kernel
    * projection ([[cellKernel]]), which [[EtlCell]] evaluates once per cell
    * (once per distinct cell per task, through its memo):
    * pass 1: ONE hash-aggregatable decision aggregate over the kernel's
    *   decision fields (min_by, every, max, sums — no struct buffers, so no
    *   SortAggregate) decides per column: the first non-NA value (in row
    *   order) is date-like, all non-NA values look numeric, any
    *   multi-element list, and the output tags;
    * pass 2: the returned table, ONE projection of the kernel's outputs,
    *   picks the chosen field per column:
    *   (a) date-like first value → faithful normalize_value chain,
    *   (b) all-numeric-ish      → faithful normalize_value chain,
    *   (c) otherwise            → fillna('') + strip + lowercase;
    *   plus the float coercion of (a)/(b) outputs.
    * Nothing is cached between the passes: a cache of the kernel's rows
    * costs more to build than the memo'd kernel costs to run twice. The
    * table re-reads `wide`, so its inputs must stay available (cached)
    * until the table has been materialized. The passes agree although they
    * may run on different dates: the decision fields never depend on the
    * run date (only a parsed date's text does, and a date and the string
    * it fell back from are both strings), and each output cell is computed
    * once, in pass 2.
    */
  def normalizeData(spark: SparkSession, wide: DataFrame, cols: Seq[String]): DataFrame = {
    if (cols.isEmpty) return wide
    // NOTE on `is_numeric_dtype(x)` in the reference's gate
    // (backend/etl_pipeline.py:218): pandas 2.2's Series.map unboxes numpy
    // scalars to Python natives, and is_numeric_dtype(python int/float/bool)
    // is False — so the disjunct never fires on VALUES (verified against the
    // live reference: an int64 column holding -5 takes branch (c) and emits
    // "-5"). It only fires for STRING cells that happen to name a numpy
    // dtype ("int64", "short", ...) — EtlCellKernel's dtype-name clause.
    // Negative-number and bool-column behavior is pinned by the fuzz corpus.
    val cells = cellKernel(wide, cols)
    val row = branchDecision(cells, cols.size).collect()(0)

    val projected = cols.zipWithIndex.map { case (c, i) =>
      def flag(name: String) =
        Option(row.getAs[java.lang.Boolean](s"${name}_$i")).map(_.booleanValue)
      def l(name: String) = row.getAs[Long](s"${name}_$i")
      val coerceFloat =
        l("n_b") == 0 && l("n_s") == 0 && l("n_i") > 0 && (l("n_f") > 0 || l("n_n") > 0)
      val norm = col(s"norm_$i")
      val normalized =
        if (coerceFloat) when(norm.rlike("^-?\\d+$"), concat(norm, lit(".0"))).otherwise(norm)
        else norm
      flag("first") match {
        // no non-null values (or an unparsable first one) → column untouched
        case None => col(s"raw_$i").as(c)
        case Some(true) => normalized.as(c)
        case _ if flag("allnum").contains(true) => normalized.as(c)
        // pandas quirk: `pd.notna(list)` raises for lists of length ≥ 2 →
        // branch (c) throws → the whole column is SKIPPED raw (reference:
        // backend/etl_pipeline.py:222-224). Single-element lists stringify
        // normally; flatten later comma-joins the surviving lists.
        case _ if flag("haslist").contains(true) => col(s"raw_$i").as(c)
        case _ => when(col(s"lower_is_norm_$i"), norm).otherwise(col(s"lower_$i")).as(c)
      }
    }
    cells.select(col("doc_id") +: col("row_idx") +: projected: _*)
  }

  /** The kernel projection both passes read: per column `raw_i` plus the
    * [[EtlCell]] fields as flat columns `<field>_i`. The kernel struct is
    * bound in its own projection and only then split: the struct is
    * referenced once per field, so Catalyst keeps the two projections apart
    * and evaluates the kernel once per cell.
    */
  private[graft] def cellKernel(wide: DataFrame, cols: Seq[String]): DataFrame =
    wide.select(col("doc_id") +: col("row_idx") +:
      cols.zipWithIndex.flatMap { case (c, i) =>
        val cell = col(s"`$c`")
        Seq(cell.as(s"raw_$i"), EtlCell(cell).as(s"k_$i"))
      }: _*)
      .select(col("doc_id") +: col("row_idx") +:
        (0 until cols.size).flatMap { i =>
          col(s"raw_$i") +: EtlCell.fields.map(f => col(s"k_$i.$f").as(s"${f}_$i"))
        }: _*)

  /** The one-row branch decision over [[cellKernel]]'s `n` columns. Every
    * aggregate keeps a fixed-width buffer (min_by, every, max, sums), so it
    * plans as a HashAggregate. row_idx is unique per record, so min_by's
    * pick is the old min(struct(row_idx, value)) pick; NA rows carry a null
    * ordering and are skipped.
    */
  private[graft] def branchDecision(cells: DataFrame, n: Int): DataFrame = {
    val aggExprs = (0 until n).flatMap { i =>
      val tag = col(s"tag_$i")
      Seq(
        min_by(col(s"date_like_$i"), when(!col(s"na_$i"), col("row_idx"))).as(s"first_$i"),
        every(col(s"numeric_$i")).as(s"allnum_$i"),
        max(col(s"multi_list_$i")).as(s"haslist_$i"),
        // post-normalize pandas dtype inference: the mapped column becomes
        // float64 when all outputs are int/float AND there is any float or
        // any None — ints then read back as floats ("99" → 99.0).
        sum((tag === "i").cast("long")).as(s"n_i_$i"),
        sum((tag === "f").cast("long")).as(s"n_f_$i"),
        sum((tag === "b").cast("long")).as(s"n_b_$i"),
        sum((tag === "s").cast("long")).as(s"n_s_$i"),
        sum((tag === "n").cast("long")).as(s"n_n_$i"))
    }
    cells.agg(aggExprs.head, aggExprs.tail: _*)
  }

  /** T2/T3 — flatten: after normalization the only non-scalar cells left are
    * lists in skipped columns; they comma-join (`",".join(map(str, ...))`,
    * reference: backend/etl_pipeline.py:68-69). Everything else is identity.
    */
  def flattenLists(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(col("doc_id") +: col("row_idx") +:
      cols.map(c => flattenCell(col(s"`$c`")).as(c)): _*)

  /** Serving sink — single-CSV parity shim (reference writes one CSV,
    * backend/etl_pipeline.py:311-316). Cells render pandas-style (None →
    * empty, True/False, python float repr). The scalable sink is
    * [[writeParquet]]; coalesce(1) is only for serving parity.
    */
  def writeCsv(result: Result, outDir: String): Unit = {
    val rendered = result.table
      .orderBy(col("row_idx"))
      .select(result.columns.map(c => renderCell(col(s"`$c`")).as(c)): _*)
    rendered.coalesce(1).write.mode("overwrite")
      .option("header", "true").option("emptyValue", "").option("nullValue", "")
      .csv(outDir)
  }

  /** Scalable sink: multi-part parquet, cells as JSON strings. */
  def writeParquet(result: Result, outDir: String): Unit =
    result.table.write.mode("overwrite").parquet(outDir)
}

/** S2 plug point — PDF/text extraction per (path, bytes). Plain text and
  * markdown read as UTF-8; PDFs extract through [[PdfText]] (a hand-rolled
  * uncompressed/FlateDecode text-operator walker — the PyPDF2-class path the
  * reference falls back to, backend/etl_pipeline.py:38-45); other extensions
  * raise (S3). Swap the trait implementation to plug a full-fidelity PDF
  * library in deployments that have one.
  */
trait DocTextExtractor extends Serializable {
  def extract(path: String, content: Array[Byte]): String
}

object PlainTextExtractor extends DocTextExtractor {
  def extract(path: String, content: Array[Byte]): String = {
    val lower = path.toLowerCase(java.util.Locale.ROOT)
    if (lower.endsWith(".txt") || lower.endsWith(".md"))
      new String(content, java.nio.charset.StandardCharsets.UTF_8)
    else if (lower.endsWith(".pdf"))
      PdfText.extract(content)
    else if (lower.endsWith(".docx"))
      DocxText.extract(content)
    else if (lower.endsWith(".epub"))
      EpubText.extract(content).text
    else if (lower.endsWith(".xlsx"))
      XlsxText.extract(content)
    else if (lower.endsWith(".pptx"))
      PptxText.extract(content)
    else if (lower.endsWith(".odt"))
      OdtText.extract(content)
    else if (lower.endsWith(".rtf"))
      RtfText.extract(content)
    else if (lower.endsWith(".eml"))
      graft.ops.Mail.parse(content).textBody
    else
      throw new IllegalArgumentException(s"Unsupported file type: $path")
  }
}
