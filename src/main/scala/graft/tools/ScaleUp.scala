package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds an N× scale-up of a driver testdata directory (TESTDATA.md) for
  * scale-proof measurements (VERDICT r7 "Next round" #3): the driver only
  * ships sf ≤ 0.1, so near-linear-scaling claims need a bigger corpus that
  * preserves the small corpus's distributional properties.
  *
  * Construction: N replicas of every table, replica r = 0 the identity, with
  * all join keys offset by r·K (K a power of ten above any real key) so
  * referential integrity, join selectivity, group cardinality-per-key, and
  * graph degree distributions are preserved exactly while entity counts grow
  * ×N. Content columns are perturbed so a replica is NOT a trivial duplicate:
  *
  *  - documents.text: every 5th word is replaced by a replica-tagged token
  *    (`zq{r}x{pos mod 17}`). Within a replica the edit is position-only, so
  *    intra-replica near-dup structure survives; across replicas every
  *    8-token window contains ≥1 replaced word, so shingle-based dedup sees
  *    ZERO cross-replica collisions — duplicate rates stay at the corpus's
  *    natural level instead of inflating ×N (which would turn a linearity
  *    measurement into a duplicate-blowup stress test).
  *  - embeddings.embedding: rotated by r mod 16 positions (the dim is 64,
  *    TESTDATA.md — any factor ≤ 16 keeps rotations within bounds and
  *    distinct per replica). Norms, coordinate
  *    distributions, and intra-replica geometry are exactly preserved;
  *    cross-replica cosines decorrelate.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>
  */
object ScaleUp {
  // key offsets: far above any key present at the source scale factors
  private val DOC = 10000000L
  private val VEC = 10000000L
  private val ORD = 100000000L
  private val PART = 10000000L
  private val SUPP = 1000000L
  private val CUST = 10000000L
  private val EVT = 100000000L
  private val USER = 10000000L

  def main(args: Array[String]): Unit = {
    val Array(src, dst, nStr) = args.take(3)
    val n = nStr.toInt
    val spark = graft.core.Session.local()
    build(spark, src, dst, n)
    spark.stop()
  }

  def build(spark: SparkSession, src: String, dst: String, n: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def replicate(t: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(t)
      val out = (0 until n).map(r => f(base, r)).reduce(_ unionAll _)
      // one compact file set per table: the point is a bigger INPUT, and
      // a repartition keeps the write parallel without tiny files
      out.repartition(8 * n).write.mode("overwrite")
        .parquet(s"$dst/$t.parquet")
      println(s"scaleup: $t x$n -> $dst/$t.parquet")
    }

    replicate("documents", (df, r) =>
      if (r == 0) df
      else df.select(
        (col("doc_id") + lit(r * DOC)).as("doc_id"),
        expr(s"""array_join(transform(split(text, ' '),
             (w, i) -> if(i % 5 = 4, concat('zq$r', 'x', i % 17), w)), ' ')""")
          .as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text"))))

    replicate("embeddings", (df, r) =>
      if (r == 0) df
      else {
        // per-replica isometry: rotate by r mod 64, REVERSE when
        // (r/64) is odd → 128 distinct coordinate permutations (round
        // 10; the old `r mod 16` rotation repeated every 16 replicas,
        // so a ×100 corpus carried ~6 IDENTICAL copies of every vector
        // — bucket-joined ANN then measured a duplicates blowup, not
        // the algorithm). Permutations preserve norms, coordinate
        // distributions and intra-replica geometry exactly; cross-
        // replica cosines decorrelate.
        val rot = r % 64
        val rotated =
          if (rot == 0) col("embedding")
          else expr(s"""concat(slice(embedding, $rot + 1, size(embedding) - $rot),
                   slice(embedding, 1, $rot))""")
        val perm = if ((r / 64) % 2 == 1) reverse(rotated) else rotated
        df.select(
          (col("vec_id") + lit(r * VEC)).as("vec_id"),
          perm.as("embedding"),
          col("label"))
      })

    replicate("lineitem", (df, r) =>
      if (r == 0) df
      else df
        .withColumn("l_orderkey", col("l_orderkey") + lit(r * ORD))
        .withColumn("l_partkey", col("l_partkey") + lit(r * PART))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * SUPP)))

    replicate("orders", (df, r) =>
      if (r == 0) df
      else df
        .withColumn("o_orderkey", col("o_orderkey") + lit(r * ORD))
        .withColumn("o_custkey", col("o_custkey") + lit(r * CUST)))

    replicate("customer", (df, r) =>
      if (r == 0) df
      else df.withColumn("c_custkey", col("c_custkey") + lit(r * CUST)))

    replicate("part", (df, r) =>
      if (r == 0) df
      else df.withColumn("p_partkey", col("p_partkey") + lit(r * PART)))

    replicate("supplier", (df, r) =>
      if (r == 0) df
      else df.withColumn("s_suppkey", col("s_suppkey") + lit(r * SUPP)))

    replicate("events", (df, r) =>
      if (r == 0) df
      else df
        .withColumn("event_id", col("event_id") + lit(r * EVT))
        .withColumn("user_id", col("user_id") + lit(r * USER)))

    // pure dimension tables: copied as-is (their size is fixed by the
    // schema, not the scale factor — same as TPC-H nation/region)
    Seq("nation", "region").foreach { t =>
      read(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"scaleup: $t copied -> $dst/$t.parquet")
    }
  }
}
