package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column profile of the output table — re-expression of `generate_schema` /
  * `infer_type` (reference: backend/etl_pipeline.py:228-276) as ONE long-format
  * Spark job instead of a per-column pandas loop.
  *
  * Shape: unpivot all columns with `stack` → per-(column, value) counts +
  * first-seen row (single shuffle, partial aggregation map-side) → tiny
  * per-column rollups. At 100 TB this is the only scalable layout: per-column
  * driver loops would launch #columns jobs; this launches ~3 on one shared
  * intermediate. The value-level distinct can't be avoided — `confidence` is
  * defined as top-value-frequency (a value_counts) — but it partitions by
  * (column, value) so it spreads over the cluster and AQE handles skew.
  */
object Profile {
  import EtlUdfs.isNa

  /** Long stats: one row per (col, distinct non-NA value).
    * Input df must carry `row_idx`; `cols` are JSON-cell (or plain string)
    * columns to profile.
    */
  def valueStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    if (cols.isEmpty) {
      val spark = df.sparkSession
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "col_name STRING, cell STRING, cnt BIGINT, first_row BIGINT, is_na INT"))
    }
    val n = cols.size
    val stackExpr = cols.map(c => s"'${c.replace("'", "''")}', `$c`").mkString(s"stack($n, ", ", ", ")")
    df.select(col("row_idx"), expr(stackExpr).as(Seq("col_name", "cell")))
      .groupBy(col("col_name"), col("cell"))
      .agg(
        count(lit(1)).as("cnt"),
        min(when(isNa(col("cell")), null).otherwise(col("row_idx"))).as("first_row"),
        max(when(isNa(col("cell")), 1).otherwise(0)).as("is_na"))
  }

  /** Per-column profile as a DataFrame (the SQL-expressible subset of
    * generate_schema): voted type, nullability, distinct/non-null counts,
    * confidence, PK candidacy. Vote tie-break: count desc, then tag asc
    * (documented deviation from pandas' unstable dict order).
    */
  def profileStats(df: DataFrame, cols: Seq[String], inferType: Column => Column): DataFrame = {
    val vs = valueStats(df, cols).cache()
    val nonNa = vs.filter(col("is_na") === 0)
    // vote tie-break = first-seen tag (pandas value_counts keeps appearance
    // order within equal counts — observed in reference output)
    val votes = nonNa
      .withColumn("tag", inferType(col("cell")))
      .groupBy(col("col_name"), col("tag"))
      .agg(sum(col("cnt")).as("tag_cnt"), min(col("first_row")).as("tag_first"))
      .filter(col("tag") =!= "null")
      .groupBy(col("col_name"))
      .agg(min_by(col("tag"),
        struct((-col("tag_cnt")).as("neg"), col("tag_first"), col("tag"))).as("voted_type"))
    val stats = vs.groupBy(col("col_name")).agg(
      sum(when(col("is_na") === 1, col("cnt")).otherwise(0L)).as("n_null"),
      sum(when(col("is_na") === 0, col("cnt")).otherwise(0L)).as("n_nonnull"),
      count(when(col("is_na") === 0, 1)).as("n_distinct"),
      max(when(col("is_na") === 0, col("cnt")).otherwise(null)).as("max_cnt"))
    stats.join(votes, Seq("col_name"), "left")
      .select(
        col("col_name"),
        coalesce(col("voted_type"), lit("string")).as("voted_type"),
        (col("n_null") > 0).as("nullable"),
        col("n_distinct"),
        (coalesce(col("max_cnt"), lit(1L)).cast("double") /
          when(col("n_nonnull") === 0, 1L).otherwise(col("n_nonnull"))).as("confidence"),
        (col("n_null") === 0 && col("n_distinct") === col("n_nonnull")).as("is_pk"))
  }

  /** Full faithful schema document (EngineSchema) for a JSON-cell table.
    * Examples = first ≤3 distinct non-NA values in row order, kept as typed
    * JSON values like the reference's `primitive_only` examples.
    */
  def generateSchema(df: DataFrame, cols: Seq[String], now: Long = System.currentTimeMillis() / 1000)
      : EngineSchema = {
    val vs = valueStats(df, cols).cache()
    try {
      val nonNa = vs.filter(col("is_na") === 0)
      // examples: top-3 by first appearance
      val w = Window.partitionBy(col("col_name")).orderBy(col("first_row"), col("cell"))
      val examples = nonNa
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("col_name"), col("rn"), col("cell")).collect()
        .groupBy(_.getString(0))
        .map { case (k, rows) =>
          k -> rows.sortBy(_.getInt(1)).map(r => Json.parseOpt(r.getString(2)).getOrElse(JNull)).toVector
        }
      // Round 18: votes and stats fold into ONE (col, tag) aggregate +
      // driver rollup — they were two separate collect jobs over the same
      // cached vs. NA rows carry the reserved tag "__na__" (inferTypeCell
      // can itself emit "null" for non-NA cells, which must stay in the
      // distinct/max counts while being excluded from the vote — exactly
      // the old semantics).
      val byTag = vs
        .groupBy(col("col_name"),
          when(col("is_na") === 1, lit("__na__"))
            .otherwise(EtlUdfs.inferTypeCell(col("cell"))).as("tag"))
        .agg(sum(col("cnt")).as("tag_cnt"), min(col("first_row")).as("tag_first"),
          count(lit(1)).as("n_vals"), max(col("cnt")).as("max_cnt"))
        .collect()
        .groupBy(_.getString(0))
      val votes = byTag.map { case (k, rows) =>
        // filter BEFORE extracting: the __na__ rows carry a NULL tag_first
        val tags = rows
          .filter(r => r.getString(1) != "null" && r.getString(1) != "__na__")
          .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
        k -> (if (tags.isEmpty) "string"
              else tags.minBy { case (t, c, fr) => (-c, fr, t) }._1)
      }
      val stats = byTag.map { case (k, rows) =>
        val (na, non) = rows.partition(_.getString(1) == "__na__")
        k -> (
          na.map(_.getLong(2)).sum, // n_null
          non.map(_.getLong(2)).sum, // n_nonnull
          non.map(_.getLong(4)).sum, // n_distinct
          if (non.isEmpty) 0L else non.map(_.getLong(5)).max) // max_cnt
      }

      val fields = cols.map { c =>
        val (nNull, nNonnull, nDistinct, maxCnt) = stats.getOrElse(c, (0L, 0L, 0L, 0L))
        FieldProfile(
          name = c,
          tpe = votes.getOrElse(c, "string"),
          nullable = nNull > 0,
          examples = examples.getOrElse(c, Vector.empty),
          confidence = if (nNonnull > 0) maxCnt.toDouble / nNonnull else 1.0)
      }.toVector
      val pks = cols.filter { c =>
        val (nNull, nNonnull, nDistinct, _) = stats.getOrElse(c, (0L, 0L, 0L, 0L))
        nNull == 0 && nDistinct == nNonnull && nNonnull > 0
      }.toVector
      EngineSchema(s"v$now", isoUtc(now), fields, pks)
    } finally vs.unpersist()
  }

  private def isoUtc(epochSec: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .format(java.time.LocalDateTime.ofEpochSecond(epochSec, 0, java.time.ZoneOffset.UTC))
}

/** The inferred-schema document (reference: backend/etl_pipeline.py:246-276). */
final case class FieldProfile(
    name: String,
    tpe: String,
    nullable: Boolean,
    examples: Vector[JVal],
    confidence: Double) {
  def toJson: JVal = JObj(Vector(
    "name" -> JStr(name),
    "path" -> JStr(s"$$.$name"),
    "type" -> JStr(tpe),
    "nullable" -> JBool(nullable),
    "examples" -> JArr(examples),
    "confidence" -> JFloat(confidence)))
}

final case class EngineSchema(
    schemaId: String,
    generatedAt: String,
    fields: Vector[FieldProfile],
    primaryKeyCandidates: Vector[String],
    compatibleDbs: Vector[String] = Vector("postgresql", "mongodb")) {
  def toJson: JVal = JObj(Vector(
    "schema_id" -> JStr(schemaId),
    "generated_at" -> JStr(generatedAt),
    "fields" -> JArr(fields.map(_.toJson)),
    "primary_key_candidates" -> JArr(primaryKeyCandidates.map(JStr(_))),
    "compatible_dbs" -> JArr(compatibleDbs.map(JStr(_)))))
  def render: String = Json.render(toJson)
}

object EngineSchema {
  def fromJson(v: JVal): Option[EngineSchema] = v match {
    case JObj(fs) =>
      val m = fs.toMap
      def str(k: String) = m.get(k).collect { case JStr(s) => s }
      def arr(k: String) = m.get(k).collect { case JArr(a) => a }
      for {
        id <- str("schema_id"); at <- str("generated_at"); fl <- arr("fields")
      } yield EngineSchema(
        id, at,
        fl.collect { case JObj(ff) =>
          val fm = ff.toMap
          FieldProfile(
            fm.get("name").collect { case JStr(s) => s }.getOrElse(""),
            fm.get("type").collect { case JStr(s) => s }.getOrElse("string"),
            fm.get("nullable").collect { case JBool(b) => b }.getOrElse(false),
            fm.get("examples").collect { case JArr(a) => a.toVector }.getOrElse(Vector.empty),
            fm.get("confidence").collect {
              case JFloat(d) => d
              case JInt(i) => i.toDouble
            }.getOrElse(1.0))
        }.toVector,
        arr("primary_key_candidates").map(_.collect { case JStr(s) => s }.toVector)
          .getOrElse(Vector.empty))
    case _ => None
  }
}

/** JSON schema registry (save/load per source id) + structural diff —
  * reference: backend/etl_pipeline.py:279-310. The reference's `source_id`
  * config bug (always "default_source") is deliberately NOT reproduced:
  * sourceId is an explicit parameter (SURVEY.md §1.3).
  *
  * Crash safety: a save writes and syncs a temp file in the registry
  * directory, then renames it over the entry atomically — a save that
  * dies part-way leaves the previous entry whole. A corrupt entry raises
  * [[SchemaRegistry.CorruptEntry]] instead of reading as "no entry", which
  * would silently turn the next run's drift diff into "first run".
  */
final class SchemaRegistry(dir: String) {
  import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

  private def path(sourceId: String) = Paths.get(dir, s"${sourceId}_schema.json")

  /** the saved entry; None when there is none */
  def load(sourceId: String): Option[EngineSchema] = {
    val p = path(sourceId)
    if (!Files.exists(p)) None
    else {
      // I/O errors propagate as they are; only bad CONTENT is corruption
      val parsed =
        try Json.parse(Files.readString(p))
        catch {
          case e: java.nio.charset.CharacterCodingException => throw new SchemaRegistry.CorruptEntry(p, e)
          case e: com.fasterxml.jackson.core.JacksonException => throw new SchemaRegistry.CorruptEntry(p, e)
        }
      EngineSchema.fromJson(parsed) match {
        case Some(s) => Some(s)
        case None => throw new SchemaRegistry.CorruptEntry(p, null)
      }
    }
  }

  def save(sourceId: String, schema: EngineSchema): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    // a unique name per save (concurrent savers never share a temp file),
    // created with the default permissions the entry itself would get
    val tmp = d.resolve(s".${sourceId}_schema.json.${java.util.UUID.randomUUID()}.tmp")
    try {
      val ch = java.nio.channels.FileChannel.open(tmp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      try {
        val buf = java.nio.ByteBuffer.wrap(schema.render.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        while (buf.hasRemaining) ch.write(buf)
        ch.force(true)
      } finally ch.close()
      Files.move(tmp, path(sourceId), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }
}

object SchemaRegistry {
  /** a registry entry that is not a schema document */
  final class CorruptEntry(val file: java.nio.file.Path, cause: Throwable)
      extends java.io.IOException(s"corrupt schema registry entry: $file", cause)
}

/** DeepDiff-style structural diff over JSON values (`ignore_order` list
  * semantics via multiset matching; unmatched items report as
  * added/removed — a documented simplification of deepdiff's fuzzy pairing).
  */
object SchemaDiff {
  def diff(old: JVal, neu: JVal): JVal = {
    val changed = Vector.newBuilder[(String, JVal)]
    val typeChanged = Vector.newBuilder[(String, JVal)]
    val dictAdded = Vector.newBuilder[String]
    val dictRemoved = Vector.newBuilder[String]
    val itemAdded = Vector.newBuilder[(String, JVal)]
    val itemRemoved = Vector.newBuilder[(String, JVal)]

    def kind(v: JVal): Int = v match {
      case JNull => 0; case _: JBool => 1; case _: JInt => 2; case _: JFloat => 3
      case _: JStr => 4; case _: JArr => 5; case _: JObj => 6
    }

    def walk(path: String, o: JVal, n: JVal): Unit = (o, n) match {
      case (JObj(of), JObj(nf)) =>
        val om = of.toMap; val nm = nf.toMap
        (nm.keySet -- om.keySet).toVector.sorted.foreach(k => dictAdded += s"$path['$k']")
        (om.keySet -- nm.keySet).toVector.sorted.foreach(k => dictRemoved += s"$path['$k']")
        of.collect { case (k, ov) if nm.contains(k) => walk(s"$path['$k']", ov, nm(k)) }
      case (JArr(oi), JArr(ni)) =>
        // ignore_order: multiset-match equal items, report leftovers
        val remaining = scala.collection.mutable.ArrayBuffer.from(ni.zipWithIndex)
        val unmatchedOld = oi.zipWithIndex.filterNot { case (ov, _) =>
          remaining.indexWhere(_._1 == ov) match {
            case -1 => false
            case i => remaining.remove(i); true
          }
        }
        remaining.foreach { case (nv, i) => itemAdded += s"$path[$i]" -> nv }
        unmatchedOld.foreach { case (ov, i) => itemRemoved += s"$path[$i]" -> ov }
      case (ov, nv) if ov == nv => ()
      case (ov, nv) if kind(ov) != kind(nv) =>
        typeChanged += path -> JObj(Vector("old_value" -> ov, "new_value" -> nv))
      case (ov, nv) =>
        changed += path -> JObj(Vector("new_value" -> nv, "old_value" -> ov))
    }

    walk("root", old, neu)
    val sections = Vector(
      "values_changed" -> changed.result(),
      "type_changes" -> typeChanged.result(),
      "iterable_item_added" -> itemAdded.result(),
      "iterable_item_removed" -> itemRemoved.result(),
    ).collect { case (k, v) if v.nonEmpty => k -> (JObj(v): JVal) } ++ Vector(
      "dictionary_item_added" -> dictAdded.result(),
      "dictionary_item_removed" -> dictRemoved.result(),
    ).collect { case (k, v) if v.nonEmpty => k -> (JArr(v.map(JStr(_))): JVal) }
    JObj(sections)
  }
}
