package graft
import graft.etl.Json.quote
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev-only filter: comma-separated name prefixes (driver passes
    // two args, so the full dump is unchanged)
    val only = args.drop(2).headOption.map(_.split(",").toSeq)
    def selected(name: String) = only.forall(_.exists(name.startsWith))
    val spark = graft.core.Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // builders register persisted intermediates in Caches — release them
      // after each query's terminal write so cached blocks don't accumulate
      // (and GC-thrash) across the 164-query dump
      graft.core.Caches.release()
    }
    // quote escapes backslash, quote and ALL control chars (<0x20): a tab or
    // CR in builder-authored SQL would otherwise leave oracle_sql.json
    // unparseable and silently zero the oracle check.
    val json = SparkEntry.oracleSql.filter(q => selected(q._1))
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
