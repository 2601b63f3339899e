package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lloyd k-means over an embedding column — the IVF coarse-quantizer
  * trainer (sim02's cell structure is exactly this, built offline).
  *
  * Scale shape: centroids are k·dim doubles — driver-sized at any corpus
  * scale — so each iteration is (1) ASSIGN: a pure projection against the
  * centroid LITERALS (no join, no shuffle; the corpus is touched by one
  * codegen'd scan) and (2) UPDATE: one map-side-combinable groupBy into
  * k·dim cells. The per-iteration driver collect is k·dim values, the same
  * "schema-sized" contract as the profiler's column collects.
  *
  * Cross-engine determinism (the DuckDB oracle reproduces every step):
  *   - distances compare as ((v·v + c·c) - 2·(v·c)) with the SAME
  *     association in both engines; dot products fold sequentially
  *     (Spark `aggregate(zip_with(...))` ≡ DuckDB `list_dot_product`,
  *     the sim04-verified pairing); ties break to the lowest cluster id.
  *   - centroid updates quantize components to integers
  *     (round(x·2^20) as long), sum EXACTLY, and divide back in one fixed
  *     order — so the next iteration's literals are bit-identical.
  */
object Clustering {

  val Quant: Double = 1048576.0 // 2^20 — centroid component quantization

  /** per-centroid squared distances, same association in both engines;
    * `dvv` is the row's self-dot, bound ONCE per row by the callers.
    */
  private def distsTo(v: Column, dvv: Column,
      cents: Seq[(Int, Array[Double])]): Seq[(Int, Column)] =
    cents.map { case (cid, c) =>
      // c·c folded sequentially on the driver — same left-to-right order
      // as the engines' list dot products
      val dcc = c.foldLeft(0.0)((acc, x) => acc + x * x)
      cid -> ((dvv + lit(dcc)) - lit(2.0) * Similarity.dotLit(v, c))
    }

  /** argmin cluster id over centroid literals for a double-array column.
    *
    * Round 18 (guide §1.2 step 2 — per-task work): the old form evaluated
    * every distance ~k+1 times per row (once inside the `least` chain, once
    * per `when(dist === best)` arm — and `best` itself was re-inlined into
    * every arm), i.e. O(k²) sequential dot folds per row. Now the row's
    * self-dot binds once, the k distances are computed exactly once into an
    * array, and the pick is `array_position(d, array_min(d))` — the FIRST
    * index of the minimum, which is the old foldRight's lowest-cid
    * tie-break verbatim (cents are sorted by cid). Identical per-distance
    * arithmetic: (dvv + c·c) − 2·(v·c), same association. A row whose
    * distances are all null (a null vector) gets the cid -1, the old
    * fold's no-match sentinel, not a null cid.
    */
  def assign(v: Column, cents: Seq[(Int, Array[Double])]): Column = {
    val cidArr = array(cents.map(c => lit(c._1)): _*)
    Similarity.bind1(Similarity.dot(v, v)) { dvv =>
      val darr = array(distsTo(v, dvv, cents).map(_._2): _*)
      Similarity.bind1(darr) { da =>
        coalesce(element_at(cidArr, array_position(da, array_min(da)).cast("int")), lit(-1))
      }
    }
  }

  /** squared distance to the NEAREST centroid — what the assignment ranked
    * on; the per-row unit of inertia (model QC). Same single-evaluation
    * shape as [[assign]]; `array_min` over the identical distance values is
    * the old `least` chain's result verbatim.
    */
  def minDist(v: Column, cents: Seq[(Int, Array[Double])]): Column =
    Similarity.bind1(Similarity.dot(v, v)) { dvv =>
      array_min(array(distsTo(v, dvv, cents).map(_._2): _*))
    }

  /** one update step: quantized per-dimension means of the assigned
    * vectors, collected to driver literals (k·dim values).
    *
    * Round 18 (guide §2.3 — aggregate before you shuffle / don't explode):
    * the old form posexploded the corpus ×dim and hash-aggregated dim·N
    * rows into (cid, d) cells; now ONE groupBy(cid) computes the dim
    * per-dimension sums as dim aggregate expressions over the un-exploded
    * rows — same exact quantized-integer sums per (cid, d), same means,
    * dim× fewer aggregate input rows and no explode allocation.
    */
  def updateCentroids(assigned: DataFrame, dim: Int): Seq[(Int, Array[Double])] = {
    val sums = (0 until dim).map(dd =>
      sum(round(element_at(col("v"), dd + 1) * Quant).cast("long")).as(s"s$dd"))
    assigned
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .collect()
      .map { r =>
        val n = r.getAs[Long]("n")
        r.getAs[Int]("cid") ->
          Array.tabulate(dim)(dd => (r.getAs[Long](s"s$dd") / Quant) / n)
      }
      .toSeq.sortBy(_._1)
  }

  /** SemDeDup drop set: ids dropped as near-duplicates (cosine ≥ `minCos`
    * against a lower-id vector in the SAME cluster). The common case is the
    * plain cluster-local all-pairs self-join — linear in cluster count,
    * quadratic only within a cluster, which SemDeDup keeps bounded by
    * growing k with the corpus. The cap is the 100 TB insurance for when a
    * cluster goes hot anyway (degenerate embeddings, k chosen too small):
    * clusters over `threshold` rows degrade to star edges per SRP band
    * bucket — ≤ bands·n candidate pairs, never n²/2 — exactly the
    * [[Dedup.jaccardPairsBlocked]] contract, with the same property that a
    * corpus with no hot cluster emits the uncapped plan unchanged.
    *
    * `assigned` must carry (vec_id, v: array<double>, n: double norm, cid).
    */
  def semanticDrops(
      assigned: DataFrame,
      dim: Int,
      minCos: Double,
      threshold: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    def allPairs(src: DataFrame): DataFrame = {
      val a = src.select(col("cid"), col("vec_id").as("id_a"),
        col("v").as("v_a"), col("n").as("n_a"))
      val b = src.select(col("cid"), col("vec_id").as("id_b"),
        col("v").as("v_b"), col("n").as("n_b"))
      graft.core.Par.byKey(a, col("cid"))
        .join(b, Seq("cid")).filter(col("id_a") < col("id_b"))
    }

    def drops(pairs: DataFrame): DataFrame = pairs
      .filter(Similarity.dot(col("v_a"), col("v_b")) /
        (col("n_a") * col("n_b")) >= minCos)
      .select(col("cid"), col("id_b").as("vec_id")).distinct()

    // hot-cluster decision from a schema-sized groupBy (≤ k rows), never a
    // count().over(Window) on the corpus
    val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)).as("_cn"))
    val hotIds = sizes.filter(col("_cn") > threshold).select(col("cid"))
    // existence probe runs UN-hinted (a broadcast hint on a non-join query
    // is dead and logs HintErrorLogger noise — ADVICE r17); the joins below
    // get the hint on their own copy
    val anyHot = hotIds.limit(1).count() > 0
    val hot = broadcast(hotIds)
    if (!anyHot) return drops(allPairs(assigned))

    val small = assigned.join(hot, Seq("cid"), "left_anti")
    val big = assigned.join(hot, Seq("cid"), "left_semi")
    val weights = Sketches.srpWeights(16, dim)
    val banded = big
      .withColumn("sig", Sketches.srpSignature(col("v"), weights))
      .select(col("cid"), col("vec_id"), col("v"), col("n"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), 4 * b).bitwiseAND(lit(15)).as("key"))
        }: _*)).as("bk"))
      .select(col("cid"), col("vec_id"), col("v"), col("n"),
        col("bk.band"), col("bk.key"))
    val hubW = Window.partitionBy(col("cid"), col("band"), col("key"))
    val bigPairs = banded
      .withColumn("hub", min(struct(col("vec_id"), col("v"), col("n"))).over(hubW))
      .filter(col("vec_id") =!= col("hub.vec_id")) // hub = min id → id_a < id_b
      .select(col("cid"), col("hub.vec_id").as("id_a"), col("vec_id").as("id_b"),
        col("hub.v").as("v_a"), col("v").as("v_b"),
        col("hub.n").as("n_a"), col("n").as("n_b"))
      .dropDuplicates(Seq("id_a", "id_b")) // same pair may collide in many bands

    drops(allPairs(small).unionByName(bigPairs))
  }

  /** `iters` Lloyd rounds from the first-k init; returns the frame with the
    * final assignment in `cid`. `df` must carry (vec_id, v: array<double>).
    */
  def kmeans(df: DataFrame, k: Int, dim: Int, iters: Int): DataFrame =
    kmeansWithCents(df, k, dim, iters)._1

  /** kmeans plus the FINAL centroid literals — for consumers that score the
    * model itself (inertia / max-distance QC) rather than the assignment.
    */
  def kmeansWithCents(
      df: DataFrame, k: Int, dim: Int, iters: Int)
      : (DataFrame, Seq[(Int, Array[Double])]) = {
    var cents = df.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("v"))
      .collect()
      .map(r => r.getAs[Int]("cid") -> r.getAs[scala.collection.Seq[Double]]("v").toArray)
      .toSeq.sortBy(_._1)
    var assigned = df.withColumn("cid", assign(col("v"), cents))
    for (_ <- 1 until iters) {
      cents = updateCentroids(assigned, dim)
      assigned = df.withColumn("cid", assign(col("v"), cents))
    }
    (assigned, cents)
  }
}
