package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md north-star
  * set): exact, char-n-gram Jaccard, MinHash banding (LSH), SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design: every pairwise stage is preceded by a BLOCKING key (LSH
  * band, simhash prefix, or an explicit block column) so the cross join is
  * per-bucket, never global — the shuffle partitions by block key and AQE
  * splits skewed buckets. Hashes are arithmetic md5-prefix integers
  * ([[TextAnalysis.hash60]]), deterministic and engine-portable (the DuckDB
  * oracles recompute identical signatures).
  */
object Dedup {
  import TextAnalysis.hash60

  /** Hard bound on the block-key cardinality [[jaccardPairsBlocked]] will
    * collect to the driver (≈ tens of MB of Rows at the limit). Schema-
    * bounded block columns sit orders of magnitude below this at any
    * corpus scale; crossing it means a content-derived block key.
    */
  private[ops] val MaxBlockKeys: Int = 1 << 18

  /** exact-dedup stats over a normalized-content fingerprint. */
  def exactStats(df: DataFrame, text: Column): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(text).as("fp"))
      .agg(count(lit(1)).as("copies"), min(col("doc_id")).as("canonical_doc"))
      .agg(
        count(lit(1)).as("n_distinct"),
        sum(col("copies")).as("n_docs"),
        sum(col("copies") - 1).as("n_duplicates"),
        max(col("copies")).as("max_copies"))

  /** keep the lowest-doc_id representative of each exact-content group. */
  def exactDedup(df: DataFrame, text: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextAnalysis.fingerprint(text))
      .orderBy(col("doc_id"))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** distinct character k-shingles of a text column (empty array when the
    * text is shorter than k — `sequence(1,0)` would count DOWN in Spark).
    */
  def charShingles(c: Column, k: Int): Column =
    when(length(c) >= k,
      array_distinct(transform(
        sequence(lit(1), length(c) - (k - 1)),
        i => c.substr(i, lit(k)))))
      .otherwise(array().cast("array<string>"))

  /** Jaccard similarity of two shingle-set columns (int/int → double).
    *
    * Precondition: `a` and `b` must be DISTINCT arrays (sets), as
    * [[charShingles]], [[shingleHashes]] and [[shingleHashesFused]]
    * produce. |a ∪ b| is computed as |a| + |b| − |a ∩ b|, which holds only
    * for duplicate-free inputs: an array with repeats inflates |a| and
    * returns a deflated, wrong Jaccard. One hash-set intersection per
    * candidate (instead of intersect + union); the intersection size binds
    * once (lambda variable) so the filter + output reuse it. The quotient is
    * the same double as the union form: |union| is an exact small integer
    * either way.
    */
  def jaccard(a: Column, b: Column): Column =
    Similarity.bind1(size(array_intersect(a, b)).cast("double")) { inter =>
      inter / (size(a) + size(b) - inter)
    }

  /** MinHash machinery: ONE md5 per shingle reduced mod p, then k cheap
    * linear permutations h_i(x) = (a_i·x + b_i) mod p (the classic scheme).
    * p = 2^31−1 keeps a_i·x < 2^62 — no 64-bit overflow in either engine
    * (DuckDB BIGINT arithmetic is checked). Constants are fixed literals so
    * the DuckDB oracle regenerates identical signatures.
    */
  val MinhashP: Long = 2147483647L
  def minhashA(i: Int): Long = math.floorMod(2654435761L * (i + 1), MinhashP) | 1L
  def minhashB(i: Int): Long = math.floorMod(40503L * (i + 7) + 997L * i * i, MinhashP)

  /** distinct 31-bit shingle hashes of a text column (shared base for
    * jaccard + minhash — integer set ops are far cheaper than string sets).
    */
  def shingleHashes(c: Column, k: Int): Column =
    when(length(c) >= k,
      array_distinct(transform(
        sequence(lit(1), length(c) - (k - 1)),
        i => hash60(c.substr(i, lit(k))) % MinhashP)))
      .otherwise(array().cast("array<bigint>"))

  /** Fused text→signature form (one-pass codegen Expression, see
    * [[MinhashSig]]) — use when the shingle-hash set itself is not needed
    * downstream (dedup03/dedup07); identical signatures to
    * `minhash(shingleHashes(text, k), seeds)`.
    */
  def minhashSig(text: Column, k: Int, seeds: Int): Column =
    MinhashSig(text, k, seeds)

  /** Fused text→distinct-shingle-set form (codegen Expression, see
    * [[ShingleSet]]) — same values/order as [[shingleHashes]], for the
    * operators that consume the set itself (exact Jaccard, band probes).
    */
  def shingleHashesFused(text: Column, k: Int): Column = ShingleSet(text, k)

  /** MinHash signature from a shingle-hash array. */
  def minhash(hashes: Column, seeds: Int): Column =
    array((0 until seeds).map { s =>
      array_min(transform(hashes, x => (lit(minhashA(s)) * x + lit(minhashB(s))) % MinhashP))
    }: _*)

  /** LSH band key: concat of the signature slice for one band. */
  def bandKey(sig: Column, band: Int, rowsPerBand: Int): Column =
    concat_ws(",",
      (0 until rowsPerBand).map(r => element_at(sig, band * rowsPerBand + r + 1)): _*)

  /** SimHash over whitespace tokens: per bit b of the token hash, vote ±1;
    * the sign vector packs into a 60-bit integer. Columns only — the
    * aggregation is one groupBy(doc).
    */
  def simhashBits: Int = 60

  /** per-token hashes (distinct tokens, faithful to common simhash usage). */
  def tokenHashes(c: Column): Column =
    transform(array_distinct(TextAnalysis.tokens(c)), t => hash60(t))

  /** simhash from a token-hash array column: ONE pass over the hashes
    * accumulating a 60-slot vote vector (zip_with against a bit-mask array),
    * then one pack step — instead of 60 separate array traversals.
    */
  def simhash(hashes: Column): Column = {
    val masks = array((0 until simhashBits).map(b => lit(1L << b)): _*)
    val votes = aggregate(
      hashes,
      array_repeat(lit(0), simhashBits),
      (acc, h) => zip_with(acc, masks,
        (a, m) => a + when(h.bitwiseAND(m) =!= 0, 1).otherwise(-1)))
    aggregate(
      zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Over-cap bucket keys, collected to the driver ONCE and rebuilt as a
    * broadcast local-relation frame. The key-size aggregate is
    * schema/bucket-sized by design (≤ #blocks or bands·2^bits rows at any
    * corpus scale), so the collect is tiny; the single job replaces the
    * former `limit(1).count()` existence probe PLUS the aggregate being
    * recomputed by both the anti and semi joins (the joins now hit a
    * literal frame instead of re-running the groupBy).
    */
  private[ops] def hotKeys(src: DataFrame, keyCols: Seq[String], cap: Int): Option[DataFrame] = {
    val sel = src.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("_bn"))
      .filter(col("_bn") > cap).select(keyCols.map(col): _*)
    val rows = sel.collect()
    if (rows.isEmpty) None
    else Some(broadcast(src.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), sel.schema)))
  }

  /** Ordered (doc_a < doc_b) candidate pairs from a banded-signature frame
    * (`idCol`, band, key) with the HOT-BUCKET CAP — the LSH candidate
    * enumeration behind dedup03/dedup12. Buckets of at most `cap` rows
    * pair all-vs-all (and with no hot bucket the emitted plan is EXACTLY
    * the plain band-key self-join — zero cap overhead, oracle-identical).
    * A collapsed bucket (a boilerplate-duplicated corpus piling one band
    * key — precisely the case LSH dedup exists for) degrades to STAR edges
    * around the bucket-min hub: O(|bucket|) candidates instead of
    * O(|bucket|²), with the hub ordering free (hub = bucket min, so every
    * star edge is already doc_a < doc_b). The hot/cold decision is one
    * bucket-sized driver collect ([[hotKeys]]), never a count-over-window
    * on the corpus.
    */
  def bandedPairsCappedOrdered(banded: DataFrame, idCol: String, cap: Int): DataFrame = {
    def allPairs(src: DataFrame): DataFrame =
      src.select(col(idCol).as("doc_a"), col("band"), col("key"))
        .join(src.select(col(idCol).as("doc_b"), col("band"), col("key")),
          Seq("band", "key"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))

    hotKeys(banded, Seq("band", "key"), cap) match {
      case None => allPairs(banded).distinct()
      case Some(hot) =>
        val cold = banded.join(hot, Seq("band", "key"), "left_anti")
        val hotB = banded.join(hot, Seq("band", "key"), "left_semi")
        val star = hotB
          .withColumn("hub", min(col(idCol)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("band"), col("key"))))
          .filter(col(idCol) =!= col("hub"))
          .select(col("hub").as("doc_a"), col(idCol).as("doc_b"))
        allPairs(cold).unionByName(star).distinct()
    }
  }

  /** Exact n-gram Jaccard pairs within blocks, with a CORPUS-SCALED
    * fan-out cap (round 11).
    *
    * Blocks of at most `cap` rows run the exact all-pairs self-join
    * (quadratic in BLOCK size); larger blocks degrade gracefully:
    * candidates come from MinHash-LSH banding inside the block, and each
    * LSH bucket emits STAR edges to its min-doc hub — O(Σ|bucket|)
    * candidates even when a hot bucket holds every row.
    *
    * The cap is `max(capFloor, ⌈8·√(N/B)⌉)` where N = corpus rows and
    * B = number of blocks (from the same schema-sized groupBy that finds
    * the hot blocks). A FIXED cap bounds the worst block but not the
    * aggregate: when every block grows with the corpus, all-pairs work is
    * Σ n_b² — the round-11 ×100 measurement clocked the fixed-4096-cap
    * form at 835× wall on 100× data (BASELINE.md). With the scaled cap,
    * Σ min(n_b, cap)² ≤ B·cap² ≈ 64·N — LINEAR in corpus size by
    * construction, with `capFloor` preserving the exact-all-pairs regime
    * for small-block corpora (every test SF: max block ≤ 112 ≤ floor, so
    * the emitted plan is byte-identical to plain blocked all-pairs and
    * the DuckDB oracle stays exact).
    *
    * Both paths score candidates with EXACT Jaccard and apply `minJac`,
    * so reported similarities are never approximate; only recall on
    * over-cap blocks narrows to LSH-reachable (transitively hub-linked)
    * pairs — the right trade at 100 TB, where an uncapped hot block is
    * O(n²).
    *
    * `docs` must carry `doc_id`, the block columns, and `sh` (a
    * [[shingleHashes]] array).
    */
  def jaccardPairsBlocked(
      docs: DataFrame,
      blockCols: Seq[String],
      minJac: Double,
      capFloor: Int,
      seeds: Int,
      bands: Int,
      rowsPerBand: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val blocks = blockCols.map(col)

    def allPairs(src: DataFrame): DataFrame = {
      val a = src.select(col("doc_id").as("doc_a") +: (blocks :+ col("sh").as("sh_a")): _*)
      val b = src.select(col("doc_id").as("doc_b") +: (blocks :+ col("sh").as("sh_b")): _*)
      // pin the block join at a data-size-derived width: the per-pair
      // jaccard math downstream is CPU-dense, and the small block exchange
      // would otherwise AQE-coalesce onto one task (round 17/18)
      graft.core.Par.byKey(a, blocks: _*)
        .join(b, blockCols)
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b"))
    }

    def score(pairs: DataFrame): DataFrame = pairs
      .select(col("doc_a"), col("doc_b"), jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .filter(col("jac") >= minJac)

    // ONE schema-sized groupBy decides everything: block count + corpus
    // size derive the scaled cap, and the over-cap keys re-broadcast as a
    // literal frame — never a count().over(Window) on the corpus (which
    // would shuffle every row by block key and pile the hot block onto
    // one partition, the exact skew this cap exists to avoid).
    //
    // The collect is guarded: it is sized by the BLOCK-KEY cardinality,
    // which the contract requires to be schema-bounded (lang, source,
    // format — never content-derived). A caller that blocks on a
    // content-derived key would otherwise ship a corpus-sized count
    // table to the driver; the limit makes that a typed refusal instead
    // of an OOM. limit(K+1) returns ALL rows whenever the table is
    // within bounds, so the healthy plan is unchanged.
    val stats = docs.groupBy(blocks: _*).agg(count(lit(1)).as("_bn"))
    val rows = stats.limit(MaxBlockKeys + 1).collect()
    if (rows.length > MaxBlockKeys)
      throw new IllegalArgumentException(
        s"jaccardPairsBlocked: block columns (${blockCols.mkString(", ")}) yield " +
          s"more than $MaxBlockKeys distinct keys — the per-key count table is " +
          "collected to the driver, so block on schema-bounded columns " +
          "(language/source/format), not content-derived ones")
    val n = rows.iterator.map(r => r.getLong(r.length - 1)).sum
    val cap = math.max(capFloor,
      math.ceil(8.0 * math.sqrt(n.toDouble / math.max(rows.length, 1))).toInt)
    val hotRows = rows.filter(r => r.getLong(r.length - 1) > cap)
    val hotOpt =
      if (hotRows.isEmpty) None
      else {
        val keysOnly = stats.select(blocks: _*)
        Some(broadcast(docs.sparkSession.createDataFrame(
          java.util.Arrays.asList(hotRows.map(r =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1))): _*),
          keysOnly.schema)))
      }

    // Common case — no hot block: the plan is EXACTLY the plain blocked
    // all-pairs self-join, zero cap overhead.
    if (hotOpt.isEmpty) return score(allPairs(docs))

    val hot = hotOpt.get
    val small = docs.join(hot, blockCols, "left_anti")
    val big = docs.join(hot, blockCols, "left_semi")
    val banded = big
      .withColumn("sig", minhash(col("sh"), seeds))
      .select(col("doc_id") +: col("sh") +: (blocks :+
        explode(array((0 until bands).map { bd =>
          struct(lit(bd).as("band"), bandKey(col("sig"), bd, rowsPerBand).as("key"))
        }: _*)).as("b")): _*)
    val hubW = Window.partitionBy(blocks :+ col("b.band") :+ col("b.key"): _*)
    val bigPairs = banded
      .withColumn("hub", min(struct(col("doc_id"), col("sh"))).over(hubW))
      .filter(col("doc_id") =!= col("hub.doc_id"))
      .select(col("hub.doc_id").as("doc_a"), col("doc_id").as("doc_b"),
        col("hub.sh").as("sh_a"), col("sh").as("sh_b"))
      .dropDuplicates(Seq("doc_a", "doc_b")) // same pair may collide in many bands

    score(allPairs(small).unionByName(bigPairs))
  }

  /** Blocked edit-distance candidate pairs with a hot-block cap (the
    * dedup02 contract applied to fuzzy record linkage): within each block
    * (`blockCols`), all pairs when the block is under `threshold` rows —
    * the plan is then EXACTLY the plain blocked self-join — while hot
    * blocks get an extra refinement key (the first `refineLen` characters
    * of the compare prefix), so fan-out is quadratic only within
    * same-refined-prefix groups, which at dist ≪ prefix length are the
    * near-identical records the operator must pair anyway. The hot/cold
    * decision is a schema-sized groupBy collect (≤ #blocks rows at any
    * corpus scale), never a count-over-window on the corpus. Recall on the
    * capped path is bounded to pairs agreeing on the refined prefix — the
    * documented graceful degrade, mirroring dedup02's LSH routing.
    */
  def fuzzyPairsBlocked(
      docs: DataFrame,
      blockCols: Seq[String],
      preCol: String,
      maxDist: Int,
      threshold: Int,
      refineLen: Int): DataFrame = {
    val blocks = blockCols.map(col)

    def pairs(src: DataFrame, keys: Seq[String]): DataFrame = {
      val a = src.select(col("doc_id").as("doc_a") +: keys.map(col) :+ col(preCol).as("pre_a"): _*)
      val b = src.select(col("doc_id").as("doc_b") +: keys.map(col) :+ col(preCol).as("pre_b"): _*)
      a.join(b, keys)
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("pre_a"), col("pre_b")).as("dist"))
        .filter(col("dist") <= maxDist)
    }

    hotKeys(docs, blockCols, threshold) match {
      case None => pairs(docs, blockCols)
      case Some(hot) =>
        val small = docs.join(hot, blockCols, "left_anti")
        val big = docs.join(hot, blockCols, "left_semi")
          .withColumn("_rk", substring(col(preCol), 1, refineLen))
        pairs(small, blockCols).unionByName(pairs(big, blockCols :+ "_rk"))
    }
  }

  /** Non-overlapping w-token chunk hashes per document — dedup14's
    * boilerplate unit, one `(doc_id, lang, ch)` row per chunk; the
    * `(len mod w)` token tail is never chunked. A pure projection over
    * `(doc_id, lang, text)`, so the SAME transform drives the batch scrub
    * (dedup14) and the streaming ingest variant
    * ([[graft.streaming.CorpusStreams.chunkFrequency]]) — chunk-scheme
    * changes edit exactly here.
    */
  def boilerplateChunks(docs: DataFrame, w: Int): DataFrame =
    boilerplateChunksTok(
      docs.select(col("doc_id"), col("lang"),
        TextAnalysis.tokens(col("text")).as("toks")), w)

  /** Chunking over an already-tokenized `(doc_id, lang, toks)` frame —
    * callers that tokenized for their own stats (dedup14) reuse that single
    * scan instead of re-reading and re-tokenizing the corpus here.
    */
  def boilerplateChunksTok(docs: DataFrame, w: Int): DataFrame = {
    val toks = col("toks")
    val idx = when(size(toks) >= w,
        sequence(lit(0), (size(toks) / w).cast("int") - 1))
      .otherwise(array().cast("array<int>"))
    docs.select(col("doc_id"), col("lang"),
      explode(transform(idx,
        j => hash60(array_join(slice(toks, j * w + 1, lit(w)), " ")))).as("ch"))
  }
}
