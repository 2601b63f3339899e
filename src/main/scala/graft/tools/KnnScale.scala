package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale companion for sim06 (kNN-graph build): the SAME plan shape with
  * the band-key WIDTH as a parameter — the build knob sim06's contract
  * names ("more bits → smaller buckets; pair work stays linear in
  * Σ|bucket|²").
  *
  * At a FIXED key width B, bucket population is N/2^B, so candidate
  * volume Σ|bucket|² grows quadratically in N — the fixed-parameter
  * registry query (8-bit keys, right for the sf0.01/sf0.1 gates) is NOT
  * the configuration a 100× corpus runs; the operator's scale story is
  * that B grows with log₂N, holding per-bucket population (and therefore
  * per-vector candidate work) constant. This tool measures exactly that
  * claim: run it at the small scale with the registry's 8-bit keys and
  * at ×100 with 8 + ⌈log₂ 100⌉ ≈ 15-bit keys, and the wall-clock ratio
  * should land ~linear-in-N (BASELINE.md records the round-10 numbers).
  *
  * Round 11: the registry query now computes the key width from the
  * corpus size itself (`ScaleQueries.knnBandBits`, bits = max(8,
  * ⌈log₂N⌉−4), capped at 32 / nBands) — pass `auto` as <bitsPerBand> to
  * run the UNMODIFIED registry build at any scale and verify the
  * self-scaling knob; numeric
  * widths remain for measuring off-design configurations (e.g. the
  * fixed-8-bit quadratic blow-up that motivated the change).
  *
  * Usage: runMain graft.tools.KnnScale <dir> <nBands> <bitsPerBand|auto> [k]
  * Prints ONE JSON line {"dir":…, "bands":…, "bits":…, "edges":…,
  * "candidates":…, "sec":…} (warm-run protocol: two runs, min).
  */
object KnnScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nBands = args(1).toInt
    val auto = args(2) == "auto"
    val k = if (args.length > 3) args(3).toInt else 3
    val spark = graft.core.Session.local()

    import graft.ops.{Similarity, Sketches}
    val n = graft.core.Tables.embeddings(spark, dir).count()
    val bits =
      if (auto) graft.queries.ScaleQueries.knnBandBits(n, nBands)
      else args(2).toInt
    require(nBands >= 1 && bits >= 1 && nBands * bits <= 32,
      s"$nBands bands of $bits bits exceed the 32-bit SRP signature")
    val totalBits = nBands * bits
    val mask = (1L << bits) - 1

    def runAuto(): (Long, Long, Double) = {
      // the REGISTRY query, unmodified — its knob self-scales from N
      val t0 = System.nanoTime()
      val res = graft.queries.ScaleQueries.knnGraphBuild(spark, dir, k, nBands)
        .transform(graft.core.Caches.persist)
      val edges = res.count()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.core.Caches.release()
      (edges, -1L, sec)
    }

    def run(): (Long, Long, Double) = {
      if (auto) return runAuto()
      val t0 = System.nanoTime()
      val weights = Sketches.srpWeights(totalBits, 64)
      val e = graft.core.Tables.embeddings(spark, dir)
        .transform(graft.core.Par.spread)
        .select(col("vec_id").as("id"), Similarity.toDouble(col("embedding")).as("v"))
        .withColumn("sig", Sketches.srpSignature(col("v"), weights))
        .withColumn("nrm", Similarity.norm(col("v")))
        .transform(graft.core.Caches.persist)
      val banded = e.select(col("id"), explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), bits * b).bitwiseAND(lit(mask)).as("key"))
        }: _*)).as("bk"))
        .select(col("id"), col("bk.band"), col("bk.key"))
      val pairs = Similarity.bandedPairsCapped(banded, cap = 4096)
        .transform(graft.core.Caches.persist)
      val nCand = pairs.count()
      val cand = pairs
        .join(e.select(col("id").as("q_id"), col("v").as("q_v"), col("nrm").as("q_n")),
          Seq("q_id"))
        .join(e.select(col("id").as("n_id"), col("v").as("n_v"), col("nrm").as("n_n")),
          Seq("n_id"))
        .select(col("q_id"), col("n_id"),
          (Similarity.dot(col("q_v"), col("n_v")) / (col("q_n") * col("n_n"))).as("cos"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
      val edges = cand.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k).count()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.core.Caches.release()
      (edges, nCand, sec)
    }
    val a = run()
    val b = run()
    val best = if (a._3 <= b._3) a else b
    def r3(v: Double) = math.rint(v * 1000) / 1000
    println(s"""{"dir":"$dir","bands":$nBands,"bits":$bits,"edges":${best._1},""" +
      s""""candidates":${best._2},"sec":${r3(best._3)}}""")
    spark.stop()
  }
}
