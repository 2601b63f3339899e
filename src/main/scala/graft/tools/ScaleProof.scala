package graft.tools

/** Scale-proof harness (VERDICT r7 "Next round" #3): times the heavy query
  * family at the bench scale factor AND at a ×N scale-up built by
  * [[ScaleUp]], and reports the per-query wall-clock scaling factor. Done =
  * every factor ≤ ~1.2·N (near-linear); anything super-linear is a plan bug
  * to fix, converting the "plans that survive 100×" claim from code-reading
  * into a measurement.
  *
  * Protocol matches Bench: two runs per query per scale, report the faster
  * (warm) one, Caches released between queries. Prints ONE JSON line.
  *
  * Usage: runMain graft.tools.ScaleProof <smallDir> <bigDir> <factor> [q1,q2,...]
  */
object ScaleProof {
  val defaultHeavy: Seq[String] = Seq(
    "dedup03_minhash_lsh", "dedup07_components", "dedup13_canonical",
    "dedup15_substring", "sim06_knn_graph", "graph02_triangles",
    "graph03_label_prop", "text05_bigram_topk", "text06_tfidf_topk",
    "clust01_kmeans")

  def main(args: Array[String]): Unit = {
    val small = args(0)
    val big = args(1)
    val factor = args(2).toInt
    val names = if (args.length > 3) args(3).split(",").toSeq else defaultHeavy
    val spark = graft.core.Session.local()

    val byName = graft.queries.Registry.all.map(q => q.name -> q.run).toMap
    def warm(name: String, dir: String): Double = {
      val fn = byName(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, dir).count() } catch { case _: Throwable => return -1.0 }
        (System.nanoTime() - t0) / 1e9
      }
      val a = once()
      val b = if (a < 0) a else math.min(a, once())
      graft.core.Caches.release()
      b
    }

    val rows = names.map { name =>
      val s = warm(name, small)
      val b = warm(name, big)
      val ratio = if (s > 0 && b > 0) b / s else -1.0
      (name, s, b, ratio)
    }
    def r3(v: Double) = math.rint(v * 1000) / 1000
    val qs = rows.map { case (n, s, b, r) =>
      s""""$n":{"small":${r3(s)},"big":${r3(b)},"ratio":${r3(r)}}"""
    }.mkString("{", ",", "}")
    val worst = rows.filter(_._4 > 0).map(_._4).maxOption.getOrElse(-1.0)
    println(s"""{"metric":"scale_proof","factor":$factor,"small":"$small","big":"$big","worst_ratio":${r3(worst)},"queries":$qs}""")
    spark.stop()
  }
}
