package perfbench

import graft.core.{Caches, Par}
import graft.etl.{DocumentEtl, EngineSchema, Json => GJson, JVal, Profile, SchemaDiff, SchemaRegistry}
import graft.ops.{Dedup, DedupGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

object Io {
  def size(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
  }
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), s)
  }
}

/** Per-round output directories under `root`. Only the newest untraced
  * round's directory is kept, for the checker; a traced round's outputs
  * are deleted once it ends.
  */
final class Rounds(root: String) {
  private var last: Option[Int] = None
  def dir(r: Int): String = s"$root/r$r"
  def done(r: Int, traced: Boolean): Unit =
    if (traced) Io.delete(dir(r))
    else { last.foreach(l => Io.delete(dir(l))); last = Some(r) }
  def kept: String = dir(last.get)
}

/** The document pipeline split at its layer boundaries, each forced (persist
  * + count) so its work lands in its own job group. Same composition as
  * `DocumentEtl.run` in registry mode followed by `writeParquet`.
  */
object TracedEtl {
  private val Level = StorageLevel.MEMORY_AND_DISK

  def run(spark: SparkSession, docs: DataFrame, sourceId: String, regDir: String,
      now: Long, sink: String, tr: Tracer): (EngineSchema, Option[JVal]) = {
    val recs = tr.layer("etl.extract") {
      val r = DocumentEtl.extract(docs.transform(Par.spread)).persist(Level)
      tr.add("etl.extract.records", r.count().toDouble)
      r
    }
    val (wide, cols) = tr.layer("etl.pivot") {
      val (w, c) = DocumentEtl.pivot(spark, recs)
      w.persist(Level).count()
      (w, c)
    }
    tr.count("etl.pivot.columns", cols.size.toDouble)
    val norm0 = tr.layer("etl.normalize") {
      val n = DocumentEtl.normalizeData(spark, wide, cols).persist(Level)
      n.count()
      n
    }
    val normalized = tr.layer("etl.flatten") {
      val f = DocumentEtl.flattenLists(norm0, cols).persist(Level)
      f.count()
      f
    }
    val schema = tr.layer("etl.profile")(Profile.generateSchema(normalized, cols, now))
    val diff = tr.layer("etl.registry") {
      val reg = new SchemaRegistry(regDir)
      val d = reg.load(sourceId).map(old => SchemaDiff.diff(old.toJson, schema.toJson))
      reg.save(sourceId, schema)
      d
    }
    tr.layer("etl.sink") {
      DocumentEtl.writeParquet(DocumentEtl.Result(normalized, cols, () => schema, () => diff), sink)
    }
    Seq(recs, wide, norm0, normalized).foreach(_.unpersist(blocking = true))
    (schema, diff)
  }
}

/** doc_etl_bulk: one large batch of JSON-array documents through
  * run → writeParquet → schema, with a registry directory.
  */
final class BulkEtl(spark: SparkSession, in: String, out: String) extends Workload {
  private val Now = 1700000000L
  private val Source = "orders"
  private var schema: EngineSchema = _
  private val rounds = new Rounds(s"$out/bulk")
  private var mismatch = Vector.empty[String]

  def round(r: Int, tr: Option[Tracer]): Round = {
    val dir = rounds.dir(r)
    val (reg, sink) = (s"$dir/registry", s"$dir/sink")
    val docs = spark.read.parquet(s"$in/docs.parquet")
    val t0 = System.nanoTime()
    var got: Option[EngineSchema] = None
    val op = try {
      got = Some(tr match {
        case None =>
          val res = DocumentEtl.run(spark, docs, Source, Some(reg), Now)
          DocumentEtl.writeParquet(res, sink)
          val s = res.schema
          Caches.release()
          s
        case Some(t) =>
          val s = TracedEtl.run(spark, docs, Source, reg, Now, sink, t)._1
          t.count("etl.registry.bytes", Io.size(reg).toDouble)
          s
      })
      Io.ms(t0)
    } catch { case e: Exception => e.printStackTrace(); Caches.release(); Double.NaN }
    val wall = Io.ms(t0)
    val bytes = Io.size(sink) + Io.size(reg)
    if (tr.isEmpty) got.foreach(s => schema = s)
    else got.foreach { s =>
      // TracedEtl re-composes DocumentEtl.run; its outputs must not drift
      if (s != schema) mismatch :+= s"bulk: traced schema ${s.render} != untraced ${schema.render}"
      val (n, want) = (spark.read.parquet(sink).count(),
        spark.read.parquet(s"${rounds.kept}/sink").count())
      if (n != want) mismatch :+= s"bulk: traced sink has $n rows, untraced $want"
    }
    rounds.done(r, tr.isDefined)
    Round(wall, Seq(op), bytes)
  }

  override def traceMismatch: Seq[String] = mismatch

  override def facts(): Json.Obj = {
    val dir = rounds.kept
    val reloaded = new SchemaRegistry(s"$dir/registry").load(Source)
    val selfDiff = GJson.render(SchemaDiff.diff(schema.toJson, schema.toJson))
    Json.obj(
      "sink" -> s"$dir/sink",
      "registry_file" -> s"$dir/registry/${Source}_schema.json",
      "schema" -> schema.render,
      "reload_equal" -> reloaded.contains(schema),
      "self_diff" -> selfDiff)
  }
}

/** doc_etl_incremental: a series of small batches into one registry; each
  * batch runs run → writeParquet → schema → diff (the run saves the entry).
  */
final class IncrementalEtl(spark: SparkSession, in: String, out: String) extends Workload {
  private val Now = 1700000000L
  private val Source = "stream"
  private val batches = new java.io.File(in).listFiles().map(_.getName)
    .filter(n => n.startsWith("batch_") && n.endsWith(".parquet")).sorted.toVector
  private val rounds = new Rounds(s"$out/inc")
  private var perBatch = Vector.empty[(String, String)] // (schema, diff) renders
  private var mismatch = Vector.empty[String]

  def round(r: Int, tr: Option[Tracer]): Round = {
    val dir = rounds.dir(r)
    val reg = s"$dir/registry"
    val inputs = batches.map(b => spark.read.parquet(s"$in/$b"))
    val rendered = Vector.newBuilder[(String, String)]
    val t0 = System.nanoTime()
    val ops = inputs.zipWithIndex.map { case (docs, b) =>
      val tb = System.nanoTime()
      try {
        val sink = s"$dir/sink/b$b"
        val (schema, diff) = tr match {
          case None =>
            val res = DocumentEtl.run(spark, docs, Source, Some(reg), Now + b)
            DocumentEtl.writeParquet(res, sink)
            val sd = (res.schema, res.diff)
            Caches.release()
            sd
          case Some(t) => TracedEtl.run(spark, docs, Source, reg, Now + b, sink, t)
        }
        val ms = Io.ms(tb)
        rendered += ((schema.render, diff.map(GJson.render).getOrElse("null")))
        ms
      } catch { case e: Exception => e.printStackTrace(); Caches.release(); Double.NaN }
    }
    val wall = Io.ms(t0)
    tr.foreach(_.count("etl.registry.bytes", Io.size(reg).toDouble))
    val bytes = Io.size(s"$dir/sink") + Io.size(reg)
    if (tr.isEmpty) perBatch = rendered.result()
    else if (rendered.result() != perBatch) // TracedEtl re-composes DocumentEtl.run
      mismatch :+= s"incremental: traced (schema, diff) per batch ${rendered.result()} != untraced $perBatch"
    rounds.done(r, tr.isDefined)
    Round(wall, ops, bytes)
  }

  override def traceMismatch: Seq[String] = mismatch

  override def finish(): Unit = perBatch.zipWithIndex.foreach { case ((s, d), b) =>
    Io.write(s"${rounds.kept}/batches/b$b/schema.json", s)
    Io.write(s"${rounds.kept}/batches/b$b/diff.json", d)
  }

  override def facts(): Json.Obj = Json.obj(
    "registry_file" -> s"${rounds.kept}/registry/${Source}_schema.json",
    "batches_dir" -> s"${rounds.kept}/batches",
    "n_batches" -> batches.size)
}

/** query_mix_small: each listed registry query once, in name order:
  * build (GraftQuery.run) → plan (executedPlan) → exec (a parquet write of
  * the result, which consumes every column; the checker reads it) →
  * Caches.release.
  */
final class QueryMix(spark: SparkSession, dir: String, out: String, names: Seq[String])
    extends Workload {
  private val queries = {
    val byName = graft.queries.Registry.all.map(q => q.name -> q).toMap
    names.sorted.map(n => byName.getOrElse(n, sys.error(s"no registry query $n")))
  }
  private val rounds = new Rounds(s"$out/queries")

  def round(r: Int, tr: Option[Tracer]): Round = {
    val res = rounds.dir(r)
    val t0 = System.nanoTime()
    val ops = queries.map { q =>
      val tq = System.nanoTime()
      try {
        val df = Tracer.layer(tr, "queries.build")(q.run(spark, dir))
        Tracer.layer(tr, "queries.plan")(df.queryExecution.executedPlan)
        Tracer.layer(tr, "queries.exec")(df.write.mode("overwrite").parquet(s"$res/${q.name}"))
        Tracer.layer(tr, "core.caches")(Caches.release())
        Io.ms(tq)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] ${q.name} failed: $e")
          Caches.release()
          Double.NaN
      }
    }
    val wall = Io.ms(t0)
    val bytes = Io.size(res)
    rounds.done(r, tr.isDefined)
    Round(wall, ops, bytes)
  }

  override def finish(): Unit = Io.write(s"$out/queries/oracle_sql.json", Json.render(
    Json.Obj(queries.flatMap(q => q.oracle.map(q.name -> _)))))

  override def facts(): Json.Obj = Json.obj(
    "results_dir" -> rounds.kept,
    "oracle_file" -> s"$out/queries/oracle_sql.json",
    "n_queries" -> queries.size)
}

/** corpus_dedup: MinHash signatures → band keys → capped candidate pairs →
  * exact Jaccard verification → connected components → one survivor per
  * component, plus the banded kNN graph over the embeddings (sim06's build).
  * Every output is written as parquet, which consumes all its columns.
  */
final class CorpusDedup(spark: SparkSession, in: String, out: String) extends Workload {
  val Shingle = 3
  val Seeds = 16
  val Bands = 2
  val RowsPerBand = 8
  val Cap = 4096
  val MinJaccard = 0.8
  private val rounds = new Rounds(s"$out/dedup")

  private def pipeline(docs0: DataFrame, dir: String, tr: Option[Tracer]): Unit = {
    def force(df: DataFrame): Long = if (tr.isDefined) df.count() else 0L
    val docs = docs0.transform(Par.spread)
      .select(col("doc_id"), col("text"), size(split(trim(col("text")), "\\s+")).as("n_toks"))
    val sigs = Tracer.layer(tr, "ops.dedup.sig") {
      val s = docs.select(col("doc_id"), col("n_toks"),
          Dedup.minhashSig(col("text"), Shingle, Seeds).as("sig"))
        .transform(Caches.persist)
      force(s)
      s
    }
    val banded = sigs.select(col("doc_id"), explode(array((0 until Bands).map { b =>
        struct(lit(b).as("band"), Dedup.bandKey(col("sig"), b, RowsPerBand).as("key"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.key"))
    val cands = Tracer.layer(tr, "ops.dedup.pairs") {
      val c = Dedup.bandedPairsCappedOrdered(banded, "doc_id", Cap).transform(Caches.persist)
      c.write.mode("overwrite").parquet(s"$dir/candidates")
      c
    }
    val verified = Tracer.layer(tr, "ops.dedup.verify") {
      val sh = docs.select(col("doc_id"), Dedup.shingleHashesFused(col("text"), Shingle).as("sh"))
      val v = cands
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), Dedup.jaccard(col("sh_a"), col("sh_b")).as("jac"))
        .filter(col("jac") >= MinJaccard)
        .transform(Caches.persist)
      v.write.mode("overwrite").parquet(s"$dir/verified")
      v
    }
    Tracer.layer(tr, "ops.cc") {
      val comps = DedupGraph.connectedComponents(
          verified.select(col("doc_a").as("a"), col("doc_b").as("b")))
        .select(col("node").as("doc_id"), col("component"))
        .transform(Caches.persist)
      comps.write.mode("overwrite").parquet(s"$dir/components")
      // survivor: most tokens, ties to the lowest doc_id (dedup13's rule)
      val j = comps.join(sigs.select(col("doc_id"), col("n_toks")), Seq("doc_id"))
      val m = j.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"), max(col("n_toks")).as("keep_toks"))
      j.join(m, Seq("component")).filter(col("n_toks") === col("keep_toks"))
        .groupBy(col("component"), col("n_members"))
        .agg(min(col("doc_id")).as("keep_doc"))
        .write.mode("overwrite").parquet(s"$dir/survivors")
    }
    Tracer.layer(tr, "ops.sim") {
      graft.queries.ScaleQueries.knnGraphBuild(spark, in)
        .write.mode("overwrite").parquet(s"$dir/knn")
    }
    tr.foreach { t =>
      val nc = cands.count().toDouble
      val nv = verified.count().toDouble
      t.count("ops.dedup.candidates", nc)
      t.count("ops.dedup.verified", nv)
      t.count("ops.dedup.yield", if (nc > 0) nv / nc else 0.0)
    }
    Caches.release()
  }

  def round(r: Int, tr: Option[Tracer]): Round = {
    val dir = rounds.dir(r)
    val docs = spark.read.parquet(s"$in/documents.parquet")
    val t0 = System.nanoTime()
    val op = try { pipeline(docs, dir, tr); Io.ms(t0) }
    catch { case e: Exception => e.printStackTrace(); Caches.release(); Double.NaN }
    val wall = Io.ms(t0)
    val bytes = Io.size(dir)
    rounds.done(r, tr.isDefined)
    Round(wall, Seq(op), bytes)
  }

  override def facts(): Json.Obj = Json.obj(
    "dir" -> rounds.kept, "min_jaccard" -> MinJaccard)
}
