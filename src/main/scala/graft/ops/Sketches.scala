package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Approximate-query sketches with EXACT cross-engine determinism.
  *
  * Classic sketches (KMV distinct-count, count-min frequency, Bloom
  * membership) are usually "approximate ⇒ untestable". Here every hash is
  * the portable 60-bit md5 prefix ([[TextAnalysis.hash60]]), so the sketch
  * CONTENTS — and therefore the estimates — are bit-identical in any engine
  * that computes md5: the DuckDB oracle reproduces the estimate exactly, and
  * the "error" columns (estimate vs exact) are themselves deterministic.
  *
  * Scale notes (the reason these exist at 100 TB):
  *   - KMV: distinct-count in O(k) memory per aggregation — the bottom-k
  *     hash set is mergeable across partitions (Catalyst plans the
  *     `ORDER BY h LIMIT k` as per-partition top-k + driver merge, never a
  *     global sort).
  *   - Count-min: frequency table of arbitrary cardinality in d×w cells;
  *     the build is one map-side-combinable groupBy, the probe a broadcast
  *     join against the (tiny) sketch.
  *   - Bloom: a semi-join against a huge build side becomes a broadcast
  *     bitmap + a shuffle-free filter on the probe side — the manual form
  *     of Spark's runtime bloom-filter pushdown, with no false negatives
  *     by construction.
  *
  * Reference scope note: the reference pipeline (etl_pipeline.py) has no
  * approximate operators at all — these belong to the beyond-the-reference
  * training-data surface (task brief), sized for corpus-scale statistics.
  */
object Sketches {

  import TextAnalysis.hash60

  /** JVM-side mirror of the portable 60-bit md5 hash (for deterministic
    * "random" constants that must match SQL-side md5 derivations, and for
    * JVM-side sketch updates — hot path, so the digest is thread-local and
    * the first 15 hex digits are read straight off the digest bytes).
    */
  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def hash60jvm(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val b = md.digest(s.getBytes("UTF-8"))
    // first 15 hex digits = bytes 0-6 in full plus the high nibble of byte 7
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    (v << 4) | ((b(7) & 0xffL) >>> 4)
  }

  /** SQL mirror of hash60 (DuckDB dialect). */
  def sqlHash60(v: String): String =
    s"CAST(concat('0x', substring(md5($v), 1, 15)) AS BIGINT)"

  // ------------------------------------------------------------------
  // KMV (k-minimum-values / bottom-k) distinct-count estimator.
  // est = (k-1) · 2^60 / h_(k)  where h_(k) is the k-th smallest distinct
  // hash. Both operands convert long→double with identical IEEE rounding in
  // every engine, so the estimate is exact cross-engine.
  val HashSpace: Double = math.pow(2, 60)

  def kmvEstimate(k: Column, kthMin: Column): Column =
    round(((k - 1).cast("double") * lit(HashSpace)) / kthMin.cast("double"))
      .cast("long")

  def sqlKmvEstimate(k: String, kthMin: String): String =
    s"CAST(round(CAST($k - 1 AS DOUBLE) * 1152921504606846976.0 / CAST($kthMin AS DOUBLE)) AS BIGINT)"

  // ------------------------------------------------------------------
  // Multi-hash derivation: ONE md5 per key, independent 32-bit hashes from
  // disjoint 8-hex-digit slices of the 128-bit digest (slots 0..3). Hashing
  // is the dominant cost of a sketch build over a fact table — d salted
  // md5s per row would multiply it by d for no statistical gain.
  def hashSlice(hex: Column, slot: Int): Column =
    conv(substring(hex, 8 * slot + 1, 8), 16, 10).cast("long")

  def sqlHashSlice(hex: String, slot: Int): String =
    s"CAST(concat('0x', substring($hex, ${8 * slot + 1}, 8)) AS BIGINT)"

  // Count-min sketch: depth `d` hash rows (md5 slices), width `w` buckets.
  // Catalyst's subexpression elimination computes the shared md5 once per
  // row even though each bucket expression names it.
  def sqlCmBucket(key: String, row: Int, width: Int): String =
    s"${sqlHashSlice(s"md5(concat('cm:', CAST($key AS VARCHAR)))", row)} % $width"

  // ------------------------------------------------------------------
  // Bloom filter: `bits` total bits stored as 32-bit words (a 31-max shift
  // is portable; DuckDB raises on 1 << 63), `k` hashes per key from md5
  // slices. word index = h >> 5, bit mask = 1 << (h % 32).
  def bloomHash(key: Column, t: Int, bits: Int): Column =
    hashSlice(md5(concat(lit("bf:"), key.cast("string"))), t) % bits

  def sqlBloomHash(key: String, t: Int, bits: Int): String =
    s"${sqlHashSlice(s"md5(concat('bf:', CAST($key AS VARCHAR)))", t)} % $bits"

  // ------------------------------------------------------------------
  // Morton (Z-order) interleave: scale two non-negative key columns to
  // 16-bit rank space, interleave the bits. Rows sorted/bucketed by the
  // Z-value cluster BOTH dimensions at once — per-bucket min/max ranges
  // stay narrow, which is what makes multi-dimensional data skipping work
  // (each file/bucket prunes on either predicate). Pure integer bit math,
  // identical in any engine; generated as a dialect-specific SQL string.
  //
  // `x16`/`y16` must already be in [0, 65536). Bits are disjoint, so the
  // interleave is a plain SUM of shifted bits (no OR operator needed —
  // keeps the expression portable).
  def sparkMorton(x16: String, y16: String): String =
    (0 until 16).flatMap { i =>
      Seq(
        s"shiftleft(shiftright($x16, $i) & 1, ${2 * i})",
        s"shiftleft(shiftright($y16, $i) & 1, ${2 * i + 1})")
    }.mkString(" + ")

  def duckMorton(x16: String, y16: String): String =
    (0 until 16).flatMap { i =>
      Seq(
        s"((($x16 >> $i) & 1) << ${2 * i})",
        s"((($y16 >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")

  // ------------------------------------------------------------------
  // Signed-random-projection (SRP / hyperplane) LSH for cosine similarity:
  // bit b of the signature = sign of ⟨v, w_b⟩ against a deterministic
  // pseudo-random integer hyperplane w_b (md5-derived, so the SAME plane is
  // reconstructable in SQL). Vectors with small angle share bits with high
  // probability — equal 16-bit signatures form the candidate buckets.
  def srpWeight(b: Int, i: Int): Long = hash60jvm(s"srp:$b:$i") % 2001 - 1000

  def srpWeights(nBits: Int, dim: Int): Array[Array[Long]] =
    Array.tabulate(nBits, dim)((b, i) => srpWeight(b, i))

  /** SRP signature column for a double-array vector column: bit b set when
    * ⟨v, weights(b)⟩ ≥ 0 ([[SrpSig]]).
    */
  def srpSignature(v: Column, weights: Array[Array[Long]]): Column = SrpSig(v, weights)

  /** DuckDB mirror: the hyperplane rebuilt via md5 inside SQL, the dot via
    * list_dot_product (verified bit-identical to the Spark fold).
    */
  def sqlSrpSignature(v: String, nBits: Int, dim: Int): String =
    (0 until nBits).map { b =>
      val w = s"list_transform(range($dim), i -> " +
        s"CAST(${sqlHash60(s"concat('srp:', '$b', ':', CAST(i AS VARCHAR))")} % 2001 - 1000 AS DOUBLE))"
      s"(CASE WHEN list_dot_product($v, $w) >= 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")
}
