package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Scale-adaptive shuffle widths (round 18, VERDICT r17 item 1).
  *
  * Round 17 pinned its explicit repartitions to `defaultParallelism` — the
  * right floor on this sandbox (every sf table is ONE parquet row group, so
  * an unpinned exchange AQE-coalesces to a single task under the byte-
  * proportional coalescer, guide §2.5), but a fixed 32 is under-partitioning
  * at 100 TB (guide §2.2: shuffle partitions should track data bytes at
  * 100 MB–1 GB each, not core count).
  *
  * `width(df)` derives the partition count from BOTH signals:
  *
  *   width = max(defaultParallelism, Σ leaf-plan bytes / targetPartitionBytes)
  *
  * - the LEAF sum (file sizes at the scans, cache sizes for persisted
  *   inputs) is used instead of `df`'s own plan-size estimate because
  *   without CBO column statistics Spark estimates a join as the PRODUCT of
  *   its children — garbage that would pin million-partition shuffles. The
  *   leaf sum is a monotone, file-metadata-exact proxy for how much data the
  *   stage can possibly carry.
  * - the core floor keeps CPU-dense small stages (codec work, per-row
  *   XML/zip builds) on every core — the round-17 behavior, byte-identical
  *   plans at the test SFs (leaf sums ≪ 128 MB target → width = cores).
  * - at 100 TB the byte term dominates: a corpus-wide exchange gets
  *   ~data/128 MB partitions regardless of driver core count, so the
  *   round-17 "32-partition shuffle of the corpus" failure mode is gone.
  *
  * targetPartitionBytes is the guide §2.2 128 MB; widthCap bounds insanity
  * (a 2^20-task stage is beyond any single job this library plans).
  */
object Par {
  val targetBytes: Long = 128L << 20

  private val widthCap = BigInt(1) << 20

  /** Data-size-derived partition count for an exchange of (a subset of)
    * `df`'s input: max(core count, leaf input bytes / targetBytes).
    */
  def width(df: DataFrame): Int = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val byBytes =
      try (leafBytes(df) / targetBytes).min(widthCap).toInt
      catch { case _: Exception => 0 }
    math.max(cores, byBytes)
  }

  /** Σ leaf-plan bytes of `df`. A persisted input counts only once its
    * cache is built: until then its relation reports the estimate of the
    * plan it caches, which for a join is the no-CBO product of its children.
    */
  private[core] def leafBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves().map {
      case r: InMemoryRelation if !r.cacheBuilder.isCachedColumnBuffersLoaded => BigInt(0)
      case leaf => leaf.stats.sizeInBytes
    }.sum

  /** Round-robin spread of `df` over a data-size-derived width — the §2.5
    * "repartition immediately after the read" fix for single-row-group
    * inputs, without shuffling an already-thousands-of-tasks 100 TB scan
    * into a fixed core-count width.
    */
  def spread(df: DataFrame): DataFrame = df.repartition(width(df))

  /** Keyed repartition at a data-size-derived width: keeps the round-17
    * single-shuffle plan shape (the downstream groupBy/join reuses the
    * hash partitioning) while the count scales with input bytes.
    */
  def byKey(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(width(df), cols: _*)
}
