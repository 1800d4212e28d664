package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Lineage.{CutOps, cutCount}

/** Deduplication operators for 100 TB-scale corpus curation.
  *
  * Scale design notes:
  * - Exact dedup is a hash-groupBy on a 64-bit fingerprint — one
  *   shuffle of (hash, id), never of document bodies.
  * - MinHash-LSH banding turns near-dup detection into an equi-join
  *   on (band, bandHash) — candidate pairs only, no all-pairs
  *   comparison. Bands/rows trade recall vs candidate volume.
  * - SimHash reduces each doc to one 64-bit signature; near-dups are
  *   bucket-joins on signature chunks (pigeonhole-complete when
  *   numChunks > maxDistance).
  * - Signatures are computed RELATIONALLY (explode → HashAggregate):
  *   higher-order array lambdas never enter whole-stage codegen and
  *   measured 3-8× slower; min/sum aggregates over exploded rows are
  *   codegen'd with map-side combine.
  * - Candidate joins carry ids only; signatures/shingles rejoin after
  *   pair-dedup. Hot buckets and stopword shingles are capped
  *   (`maxBucketSize` / `maxDf`) — the caps are no-ops at test scale
  *   and the guard against quadratic fan-out at corpus scale.
  */
object Dedup {

  /** Exact duplicates: normalize → fingerprint → keep min-id per
    * group (deterministic survivor).
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    df.withColumn("__fp", fp)
      .groupBy(col("__fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .drop("__fp")
  }

  /** MinHash signature as an array expression: k independent
    * permutations simulated as xxhash64(shingle + "#i");
    * signature_i = min over shingles.
    *
    * CORRECTNESS GOTCHAS (both found by measurement):
    * (1) the i-th hash function varies the INPUT BYTES (suffix "#i"),
    * not the hash seed — xxhash64(s, lit(i)) seed chaining leaves the
    * per-shingle ranking correlated across i (~0.34 signature overlap
    * where true Jaccard is 0.78), wrecking the estimator;
    * (2) the shingle expression must be built FRESH per hash function
    * — sharing one Column instance (whose subtree contains lambda
    * variables from shingles' own `transform`) across sibling
    * `transform` lambdas mis-resolves during analysis and yields
    * wrong minima.
    *
    * PERF: this form is for per-row/test use. `transform`+`array_min`
    * run interpreted (no whole-stage codegen) — 32 of them measured
    * 95 s at sf0.1. Bulk signature computation goes through
    * `minHashSignatures` (relational, byte-identical values).
    */
  def minHashSignature(text: Column, numHashes: Int, shingleSize: Int = 3): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(TextFunctions.shingles(text, shingleSize),
        s => xxhash64(concat(s, lit(s"#$i")))))
    }: _*)

  /** MinHash signatures, relationally — the scale formulation:
    * explode shingles to rows, compute the k per-permutation minima
    * as ordinary `min` aggregates in ONE HashAggregate (whole-stage
    * codegen, map-side combine), pack into an array. Hash family is
    * byte-identical to `minHashSignature` (min over rows ≡ array_min
    * over the same values). Docs with zero shingles drop out — they
    * can never surface in a candidate pair under either formulation.
    */
  def minHashSignatures(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleSize: Int = 3): DataFrame =
    minHashSigsFromExploded(
      TextFunctions.shingleRows(df, idCol, textCol, shingleSize), numHashes)

  /** Signatures from pre-exploded (id, s) shingle rows. When
    * `withSize`, the same HashAggregate also emits the per-doc
    * shingle-set size as column `n` — one pass over the exploded
    * rows instead of a second full groupBy for the sizes.
    */
  private def minHashSigsFromExploded(ex: DataFrame, numHashes: Int,
      withSize: Boolean = false): DataFrame = {
    val aggs = (0 until numHashes).map { i =>
      min(xxhash64(concat(col("s"), lit(s"#$i")))).as(s"__h$i")
    } ++ (if (withSize) Seq(count(lit(1)).as("n")) else Nil)
    val sizeCols = if (withSize) Seq(col("n")) else Nil
    ex.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id") +:
        array((0 until numHashes).map(i => col(s"__h$i")): _*).as("sig") +:
        sizeCols: _*)
  }

  /** LSH banding: band b's key = hash of rows [b*r, (b+1)*r). Docs
    * sharing any band key are near-dup candidates.
    */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice(sig, b * rows + 1, rows).cast("array<string>")))
          .as("bucket"))
    }: _*)

  /** Candidate (ida < idb) pairs from banded signatures, shuffling
    * ids only. Buckets are pre-aggregated on the join key: singleton
    * buckets (no pair) are dropped, and buckets larger than
    * `maxBucketSize` — degenerate collision groups, quadratic at
    * corpus scale — are capped out. The cap is a no-op at test scale.
    */
  private def candidatePairs(banded: DataFrame, keyCols: Seq[String],
      maxBucketSize: Int): DataFrame = {
    val keys = keyCols.map(col)
    val counts = banded.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2 && col("__n") <= maxBucketSize)
      .select(keys: _*)
    val pruned = banded.join(counts, keyCols)
    val a = pruned.select(keys :+ col("id").as("ida"): _*)
    val b = pruned.select(keyCols.map(k => col(k).as(s"${k}2")) :+ col("id").as("idb"): _*)
    a.join(b, keyCols.map(k => col(k) === col(s"${k}2")).reduce(_ && _) &&
        col("ida") < col("idb"))
      .select(col("ida"), col("idb"))
      .dropDuplicates("ida", "idb")
  }

  /** Candidate near-dup pairs via MinHash+LSH, scored with the
    * signature-overlap ESTIMATED Jaccard ≥ threshold.
    * Output: (ida, idb, est_jaccard) with ida < idb.
    */
  def minHashDedupPairs(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      shingleSize: Int = 1, maxBucketSize: Int = 100000): DataFrame = {
    val rows = numHashes / bands
    val sigs = graft.TransientCache.persist(
      minHashSignatures(df, textCol, idCol, numHashes, shingleSize))
    // Candidate generation shuffles ONLY (band, bucket, id) — the
    // 32-long signatures rejoin after pair-dedup, so the wide arrays
    // never ride through the O(candidates) join.
    val banded = sigs.select(col("id"),
      explode(lshBands(col("sig"), bands, rows)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket"))
    val cand = candidatePairs(banded, Seq("band", "bucket"), maxBucketSize)
      .join(sigs.select(col("id").as("ida"), col("sig").as("siga")), "ida")
      .join(sigs.select(col("id").as("idb"), col("sig").as("sigb")), "idb")
    val overlap = size(filter(zip_with(col("siga"), col("sigb"),
      (x, y) => x === y), b => b))
    cand.withColumn("est_jaccard",
      round(overlap.cast("double") / lit(numHashes.toDouble), 4))
      .filter(col("est_jaccard") >= threshold)
      .select(col("ida"), col("idb"), col("est_jaccard"))
  }

  /** Exact-verified MinHash-LSH near-dup pairs — the production
    * shape: banding generates candidates, the TRUE shingle-set
    * Jaccard (computed only for candidate pairs) verifies, so false
    * positives cost a join row, never an output row. Output equals
    * the full O(n²) exact-Jaccard answer whenever banding recall is
    * 1: at 16 bands × 2 rows the per-pair miss probability is
    * (1 − j²)^16 ≈ 2e-8 at j = 0.8 — deterministically zero misses
    * on any corpus whose near-dup pairs sit at or above threshold.
    *
    * Scale shape: one shuffle of (band, bucket, id); candidate-driven
    * intersection join (candidates × shingles-per-doc rows), never
    * the Σ df² posting-list blowup of the all-pairs formulation.
    */
  def minHashDedupPairsExact(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 2, threshold: Double = 0.8,
      numHashes: Int = 32, bands: Int = 16,
      maxBucketSize: Int = 100000): DataFrame = {
    val rows = numHashes / bands
    val ex = graft.TransientCache.persist(
      TextFunctions.shingleRows(df, idCol, textCol, shingleSize)
        .dropDuplicates("id", "s"))
    // one HashAggregate pass computes the 32 minima AND the set size
    // (the length prefilter's input) — not a second groupBy over ex
    val sigsN = graft.TransientCache.persist(
      minHashSigsFromExploded(ex, numHashes, withSize = true))
    val sizes = sigsN.select(col("id"), col("n"))
    val banded = sigsN.select(col("id"),
      explode(lshBands(col("sig"), bands, rows)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket"))
    val cand = candidatePairs(banded, Seq("band", "bucket"), maxBucketSize)
    exactJaccardForPairs(cand, ex, sizes, threshold)
  }

  /** Exact Jaccard for a given candidate-pair set: count shared
    * shingles candidate-driven — cand ⋈ shingles(ida) ⋈ shingles(idb)
    * — so work is O(candidates × doc length), independent of shingle
    * document frequency. Shingles compare as 64-bit hashes (8-byte
    * keys; collision probability far below the measure's noise
    * floor). `ex` is (id, s string) rows; `sizes` is (id, n).
    */
  /** NOTE on the `broadcast(sizes)` hints below: `sizes` is one row
    * per DOCUMENT (id, n) — 16 bytes/doc, broadcastable far beyond
    * these test scales but not at billions of docs. The hint buys a
    * measured ~25% on the whole dedup pack locally (AQE's runtime
    * SMJ→BHJ conversion does not recover it — the mid-pipeline
    * exchanges break the codegen stage either way); past the
    * broadcast budget, drop the hint and the same plan runs as a
    * shuffle join keyed on ids.
    */
  private[functions] def exactJaccardForPairs(cand: DataFrame, ex: DataFrame,
      sizes: DataFrame, threshold: Double): DataFrame = {
    // Length prefilter (PPJoin-style): j(A,B) ≤ min(|A|,|B|)/max(|A|,|B|),
    // so pairs failing the size-ratio bound can't reach threshold —
    // drop them BEFORE the shingle fan-out join. The 1e-4 slack keeps
    // pairs whose true j rounds up to the threshold at 4 decimals.
    val sized = cand
      .join(broadcast(sizes.select(col("id").as("ida"), col("n").as("na"))), "ida")
      .join(broadcast(sizes.select(col("id").as("idb"), col("n").as("nb"))), "idb")
      .filter(least(col("na"), col("nb")).cast("double")
        >= greatest(col("na"), col("nb")).cast("double") * lit(threshold - 1e-4))
    val ea = ex.select(col("id").as("ida"), xxhash64(col("s")).as("__sa"))
    val eb = ex.select(col("id").as("__idb"), xxhash64(col("s")).as("__sb"))
    val inter = sized.select("ida", "idb")
      .join(ea, "ida")
      .join(eb, col("idb") === col("__idb") && col("__sa") === col("__sb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("id").as("ida"), col("n").as("na"))), "ida")
      .join(broadcast(sizes.select(col("id").as("idb"), col("n").as("nb"))), "idb")
      .withColumn("jaccard",
        round(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("ida"), col("idb"), col("jaccard"))
  }

  /** Incremental near-dup detection — dedup a NEW batch against an
    * existing corpus without re-pairing the corpus with itself: the
    * O(delta) shape a daily-ingest pipeline runs, where the corpus
    * side's signatures would be a precomputed index (here recomputed
    * because the test corpus is tiny; the banding join is what
    * matters). Candidates come from a new-vs-corpus bucket join —
    * candidate volume scales with the batch, never corpus² — and the
    * TRUE shingle Jaccard verifies, exactly as
    * `minHashDedupPairsExact`. Id spaces must be disjoint. Output:
    * (ida = corpus id, idb = new id, jaccard ≥ threshold).
    * Hot corpus buckets are capped (`maxBucketSize`) like the
    * self-join path.
    */
  def minHashNewVsCorpusPairs(newDocs: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, shingleSize: Int = 2,
      threshold: Double = 0.8, numHashes: Int = 32, bands: Int = 16,
      maxBucketSize: Int = 100000): DataFrame = {
    val rows = numHashes / bands
    def prep(df: DataFrame) = {
      val ex = graft.TransientCache.persist(
        TextFunctions.shingleRows(df, idCol, textCol, shingleSize)
          .dropDuplicates("id", "s"))
      val sigs = graft.TransientCache.persist(
        minHashSigsFromExploded(ex, numHashes, withSize = true))
      val banded = sigs.select(col("id"),
        explode(lshBands(col("sig"), bands, rows)).as("bk"))
        .select(col("id"), col("bk.band"), col("bk.bucket"))
      (ex, sigs, banded)
    }
    val (exNew, sigsNew, bandedNew) = prep(newDocs)
    val (exOld, sigsOld, bandedOld) = prep(corpus)
    val okBuckets = bandedOld.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucketSize)
      .select("band", "bucket")
    val cand = bandedNew.select(col("band"), col("bucket"), col("id").as("idb"))
      .join(bandedOld.join(okBuckets, Seq("band", "bucket"))
        .select(col("band"), col("bucket"), col("id").as("ida")),
        Seq("band", "bucket"))
      .select(col("ida"), col("idb"))
      .dropDuplicates("ida", "idb")
    val ex = exOld.unionByName(exNew)
    val sizes = sigsOld.select(col("id"), col("n"))
      .unionByName(sigsNew.select(col("id"), col("n")))
    exactJaccardForPairs(cand, ex, sizes, threshold)
  }

  /** Persistable MinHash INDEX — one row per document carrying
    * everything incremental dedup needs: the signature, the sorted
    * distinct shingle-hash set, and its size. Built once per corpus,
    * saved like any table (bucket by id, or pre-explode the bands and
    * bucket by (band, bucket) for a co-located candidate join), then
    * every future batch dedups against it WITHOUT touching corpus
    * text again — the piece `minHashNewVsCorpusPairs` recomputes.
    * Row cost ≈ 8 B/shingle + 8 B/hash; the arrays stay columnar in
    * parquet and only candidate ids' rows ever shuffle.
    */
  def buildMinHashIndex(docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 2, numHashes: Int = 32): DataFrame = {
    val ex = TextFunctions.shingleRows(docs, idCol, textCol, shingleSize)
      .dropDuplicates("id", "s")
    val sigs = minHashSigsFromExploded(ex, numHashes, withSize = true)
    val sets = ex.groupBy("id")
      .agg(sort_array(collect_set(xxhash64(col("s")))).as("set"))
    // both aggregates shuffle on id — the join is co-partitioned
    sigs.join(sets, "id")
  }

  /** Incremental near-dup pairs against a SAVED index (the scale form
    * of `minHashNewVsCorpusPairs`): candidates from a new-vs-index
    * banding join, verification as a codegen'd two-pointer
    * `sorted_intersect` over the per-doc hash sets riding the
    * candidate join — no shingle-row fan-out join at all. Output:
    * (ida = index id, idb = new id, jaccard ≥ threshold), identical
    * to the recompute path (PipelineSpec asserts it through a parquet
    * round-trip).
    */
  def minHashIndexPairs(newDocs: DataFrame, index: DataFrame,
      textCol: String, idCol: String, shingleSize: Int = 2,
      threshold: Double = 0.8, numHashes: Int = 32, bands: Int = 16,
      maxBucketSize: Int = 100000): DataFrame = {
    val spark = newDocs.sparkSession
    val rows = numHashes / bands
    val newIdx = graft.TransientCache.persist(
      buildMinHashIndex(newDocs, textCol, idCol, shingleSize, numHashes))
    def banded(ix: DataFrame) = ix.select(col("id"),
      explode(lshBands(col("sig"), bands, rows)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket"))
    val bOld = banded(index)
    val okBuckets = bOld.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucketSize)
      .select("band", "bucket")
    val cand = banded(newIdx)
      .select(col("band"), col("bucket"), col("id").as("idb"))
      .join(bOld.join(okBuckets, Seq("band", "bucket"))
        .select(col("band"), col("bucket"), col("id").as("ida")),
        Seq("band", "bucket"))
      .select(col("ida"), col("idb"))
      .dropDuplicates("ida", "idb")
    val a = index.select(col("id").as("ida"), col("set").as("seta"),
      col("n").as("na"))
    val b = newIdx.select(col("id").as("idb"), col("set").as("setb"),
      col("n").as("nb"))
    val inter = VecExpressions.sortedIntersect(spark, col("seta"), col("setb"))
    cand.join(a, "ida").join(b, "idb")
      .filter(least(col("na"), col("nb")).cast("double")
        >= greatest(col("na"), col("nb")).cast("double") * lit(threshold - 1e-4))
      .withColumn("jaccard",
        round(inter.cast("double")
          / (col("na") + col("nb") - inter).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("ida"), col("idb"), col("jaccard"))
  }

  /** Exact-verified SimHash near-dup pairs: the 64-bit signature is a
    * cheap O(n²)-scan prefilter (16 bytes/doc, broadcast nested loop,
    * bit_count inside codegen), and the true shingle-set Jaccard
    * verifies the survivors. Output equals the full exact-Jaccard
    * answer whenever every true pair sits within `maxDistance` —
    * measured headroom on the test corpus: true (j ≥ 0.8) pairs reach
    * Hamming 12; the default 16 leaves margin. Past ~10M docs swap
    * the brute prefilter for `simHashDedupPairs` buckets (recall
    * bound drops to the pigeonhole guarantee, see simHashChunkKeys).
    *
    * GUARDED quadratic: this form is a MEASURED n² (257.6 s at 50k
    * docs, slope 1.97, vs 4.75 s for the chunk-bucketed variant on
    * the same corpus — round-9 decade probe), so it REFUSES above
    * `maxBruteDocs` rather than silently grinding for hours at
    * corpus scale. The wide-radius semantics (any `maxDistance`,
    * not just the pigeonhole k−1 bound) are exactly why it is kept
    * and why it cannot silently auto-switch — the refusal names the
    * trade so the caller chooses.
    */
  def simHashDedupPairsExact(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 2, threshold: Double = 0.8,
      maxDistance: Int = 16, maxBruteDocs: Long = 20000L): DataFrame = {
    val spark = df.sparkSession
    val nDocs = df.count()
    require(nDocs <= maxBruteDocs,
      s"simHashDedupPairsExact is an O(n²) broadcast scan (measured " +
        s"257.6 s at 50k docs vs 4.75 s chunk-bucketed): $nDocs docs " +
        s"> maxBruteDocs=$maxBruteDocs. Use simHashDedupPairs (complete " +
        s"within the pigeonhole radius numChunks-1) or " +
        s"ngramJaccardPairsAuto at the same threshold; raise " +
        s"maxBruteDocs only if the wide-radius quadratic is intended.")
    // One frame carries everything the scan needs per doc: the
    // 64-bit signature, the SORTED shingle-hash set (sort_array +
    // collect_set — one aggregate), and its size. ~8 bytes per
    // shingle per doc on the broadcast — the same ≤ ~10M-doc
    // broadcast boundary the signature prefilter already implies;
    // past it, switch to chunk-bucket candidates + the candidate-
    // driven `exactJaccardForPairs` (the minhash path's shape).
    val ex = TextFunctions.shingleRows(df, idCol, textCol, shingleSize)
    val sets = graft.TransientCache.persist(
      ex.groupBy("id")
        .agg(sort_array(collect_set(xxhash64(col("s")))).as("set"))
        .withColumn("n", size(col("set")))
        .join(simHashSignatures(df, textCol, idCol), "id"))
    val a = sets.select(col("id").as("ida"), col("sig").as("siga"),
      col("set").as("seta"), col("n").as("na"))
    val b = sets.select(col("id").as("idb"), col("sig").as("sigb"),
      col("set").as("setb"), col("n").as("nb"))
    // Hamming and length-ratio prefilters evaluate in the join
    // condition; survivors verify EXACTLY in the same codegen stage —
    // `sorted_intersect` is a primitive two-pointer loop, so there is
    // no per-candidate join fan-out over exploded shingle rows
    // (measured 13-20 s → ~3 s at sf0.1, where hamming ≤ 16 passes
    // 1.4M candidates for 256 true pairs on this shared-vocab corpus).
    val inter = VecExpressions.sortedIntersect(spark, col("seta"), col("setb"))
    a.join(broadcast(b),
        col("ida") < col("idb") &&
          hamming(col("siga"), col("sigb")) <= maxDistance &&
          least(col("na"), col("nb")).cast("double")
            >= greatest(col("na"), col("nb")).cast("double") * lit(threshold - 1e-4))
      .withColumn("jaccard",
        round(inter.cast("double")
          / (col("na") + col("nb") - inter).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("ida"), col("idb"), col("jaccard"))
  }

  /** Exact bench-hash broadcast ceiling for [[contamination]]:
    * 4M distinct shingle hashes ≈ 32 MB of raw longs — comfortably
    * broadcastable. Above it, an exact broadcast stops being free and
    * the Bloom pre-filter path takes over (a 1%-FPR filter is ~1.2
    * bytes/entry vs 8 for the hash itself).
    */
  val MaxBroadcastBenchShingles = 4000000L

  /** Benchmark decontamination (training-data hygiene): flag corpus
    * documents sharing any word k-gram with a benchmark/eval set.
    * Both sides explode to hashed shingle rows; contamination is an
    * equi-join on the 64-bit shingle hash of corpus rows against the
    * (distinct) bench hashes, then one count-distinct aggregate per
    * doc. Returns (id, n_hits) for contaminated docs only; k
    * defaults to 5 — short enough to catch paraphrase-adjacent
    * overlap, long enough that shared vocabulary alone doesn't fire.
    *
    * Scale shape: NOTHING corpus-sized ever shuffles. The corpus
    * side is explode → hash → map-side join; only bench-matching
    * rows (contamination is rare by construction) reach the
    * aggregate. Two regimes, selected by the bench's distinct
    * shingle count (the count job runs on the SMALL side only):
    *
    *  - bench ≤ `maxBroadcastShingles`: broadcast the exact hash set
    *    (an eval suite is a few thousand docs — the common case);
    *  - larger bench (decontaminating against another corpus): build
    *    a 1%-FPR Bloom filter over the bench hashes (one pass on the
    *    bench side, `df.stat.bloomFilter`), prune corpus rows
    *    map-side through the codegen'd `BloomFilterMightContain` —
    *    the same predicate Spark's own runtime row-group filtering
    *    injects — then verify the surviving ~1% exactly with a
    *    shuffled hash join whose corpus side is FPR-bounded. The
    *    filter ships in the plan (task binaries are torrent-broadcast
    *    once per executor); past ~1 G bench shingles, feed it through
    *    a scalar subquery instead of a literal.
    */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      k: Int = 5,
      maxBroadcastShingles: Long = MaxBroadcastBenchShingles): DataFrame = {
    val corpusEx = TextFunctions.shingleRows(docs, idCol, textCol, k)
      .select(col("id"), xxhash64(col("s")).as("h"))
    // The bench side is read up to three times (count, Bloom build,
    // verify join) — persist the distinct hashes, not the text.
    val benchEx = graft.TransientCache.persist(
      TextFunctions.shingleRows(bench, benchIdCol, benchTextCol, k)
        .select(xxhash64(col("s")).as("h")).distinct())
    val nBench = benchEx.count()
    val matched =
      if (nBench <= maxBroadcastShingles) corpusEx.join(broadcast(benchEx), "h")
      else {
        val bloom = benchEx.stat.bloomFilter("h", math.max(nBench, 1L), 0.01)
        val bytes = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bytes)
        val pruned = corpusEx.filter(VecExpressions.bloomMightContain(
          docs.sparkSession, lit(bytes.toByteArray), col("h")))
        // exact verify: false positives (≈1% of corpus rows) die here
        pruned.join(benchEx.hint("SHUFFLE_HASH"), "h")
      }
    matched.groupBy("id").agg(count_distinct(col("h")).as("n_hits"))
  }

  /** Near-dup cluster resolution — the dedup SELECTION operator a
    * corpus pipeline actually runs: union near-dup pairs into
    * clusters (connected components over the pair graph; a
    * component's label is its minimum doc id) and map EVERY document
    * to its canonical survivor — itself when it touches no pair.
    * The pair set is tiny relative to the corpus, so the iterative
    * CC runs on the pair-touched subgraph only; the full corpus
    * joins in exactly once, as an anti-join.
    */
  def resolveDupClusters(docs: DataFrame, idCol: String,
      pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    // pairs is read three times (two vertex projections + the edge
    // set) and its producer is typically a whole sketch+verify
    // pipeline. Checkpoint, not persist: a persist caches the
    // BLOCKS but every downstream plan still carries (and re-analyzes,
    // re-codegens) the full sketch+verify lineage — measured 6+ s of
    // pure planning per CC round at sf0.1. The checkpoint cuts the
    // plan to a flat scan. A session checkpoint dir selects the
    // RELIABLE variant (blocks survive executor loss — the long-lived
    // cluster-job setting); default is the faster localCheckpoint.
    val rel = graft.Lineage.reliable(pairs.sparkSession)
    val p = pairs.select(col("ida"), col("idb")).cut(rel)
    val touched = p.select(col("ida").as("id"))
      .unionByName(p.select(col("idb").as("id"))).distinct()
    val clustered = pairGraphComponents(touched, p, maxRounds,
        reliable = rel)
      .select(col("id"), col("component").as("canonical_id"))
    val loners = docs.select(col(idCol).as("id"))
      .join(touched, Seq("id"), "left_anti")
      .withColumn("canonical_id", col("id"))
    clustered.unionByName(loners)
  }

  /** Quality-aware cluster resolution: like `resolveDupClusters`, but
    * the survivor of each near-dup cluster is its HIGHEST-`scoreCol`
    * member (tie → lowest id) instead of the lowest id — what a real
    * curation pass keeps. `scored` must carry (idCol, scoreCol).
    * One rank window partitioned by component (clusters are tiny by
    * construction, so partitions are, too), one map-back join.
    */
  def resolveDupClustersByScore(scored: DataFrame, idCol: String,
      scoreCol: String, pairs: DataFrame): DataFrame = {
    // members is consumed twice (survivor ranking + the map-back
    // join); without the persist each consumer re-runs the corpus
    // anti-join tail of resolveDupClusters — two full corpus scans
    // at cluster scale for one logical pass
    val members = graft.TransientCache.persist(
      resolveDupClusters(scored, idCol, pairs)
        .select(col("id"), col("canonical_id").as("component")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
      .orderBy(col(scoreCol).desc, col("id").asc)
    val survivors = members
      .join(scored.select(col(idCol).as("id"), col(scoreCol)), "id")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("component"), col("id").as("survivor_id"))
    members.join(survivors, Seq("component"))
      .select(col("id"), col("survivor_id"))
  }

  /** Connected components of the near-dup PAIR graph as a DataFrame
    * min-label propagation loop: each round every vertex takes the
    * minimum label among itself and its neighbors, until a round
    * changes nothing. Rounds = component diameter; near-dup clusters
    * are shallow by construction (they're built from pairwise
    * similarity, not long chains), so this converges in a handful of
    * joins — and skips GraphX entirely: the pair frame stays a
    * DataFrame (no RDD conversion, no Pregel superstep machinery,
    * measured ~4-5 s saved per call at sf0.1). The general-graph CC
    * (deep components, unknown diameter) remains
    * `Algorithms.connectedComponents` (GraphX, hash-partitioned).
    */
  private def pairGraphComponents(vertices: DataFrame, pairs: DataFrame,
      maxRounds: Int = 30, reliable: Boolean = false): DataFrame = {
    // Every per-round frame is lineage-truncated: persist alone keeps
    // the full producer lineage in the plan, and the optimizer +
    // Janino re-walk it each round — the classic iterative-DataFrame
    // trap (lineage grows per round, planning time dominates compute).
    val edges = pairs.select(col("ida").as("a"), col("idb").as("b"))
      .unionByName(pairs.select(col("idb").as("a"), col("ida").as("b")))
      .cut(reliable)
    // The label frame's row count is CONSTANT across rounds (one row
    // per pair-subgraph vertex) and the frames are checkpointed, i.e.
    // stats-less — one count, riding the first cut's job, licenses
    // broadcast-hinting the vertex-sided frames every round so the
    // loop stops sort-merge-shuffling the edge set (see
    // graft.Broadcast).
    val (labels0, vertCnt) = cutCount(
      vertices.select(col("id"), col("id").as("component")), reliable)
    var labels = labels0
    def bc(df: DataFrame): DataFrame = graft.Broadcast.hint(df, vertCnt)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val nbrMin = edges.join(bc(labels), edges("b") === labels("id"))
        .groupBy(col("a").as("id2")).agg(min("component").as("nbr"))
      val next = labels.join(bc(nbrMin), labels("id") === col("id2"), "left")
        .select(labels("id"),
          least(col("component"), coalesce(col("nbr"), col("component")))
            .as("component"))
        .cut(reliable)
      // rename before the change-count self-join: next derives from
      // labels, so bare attribute references would be ambiguous
      val changed = next.select(col("id"), col("component").as("__c2"))
        .join(bc(labels.select(col("id"), col("component").as("__c1"))), "id")
        .filter(col("__c2") =!= col("__c1")).count()
      labels = next
      converged = changed == 0
      round += 1
    }
    if (converged) labels
    else {
      // Round cap hit: the component diameter exceeded the shallow-
      // cluster assumption (threshold-transitive CHAINS are legal
      // near-dup inputs, not anomalies). Finish the job on the
      // general-graph CC (GraphX Pregel — per-round cost independent
      // of diameter growth in plan size) instead of aborting.
      System.err.println(s"[graft] pair-graph CC hit $maxRounds rounds; " +
        "falling back to Algorithms.connectedComponents (deep component)")
      graft.algorithms.Algorithms.connectedComponents(vertices,
        pairs.select(col("ida").as("src"), col("idb").as("dst")))
    }
  }

  /** SimHash signatures, relationally: explode token hashes to rows,
    * compute the 64 per-bit ±1 vote sums as ordinary HashAggregate
    * columns (whole-stage codegen'd, map-side combined — this is the
    * formulation that scales), pack the signs into one 64-bit long.
    * Array-expression formulations (nested transform/aggregate
    * lambdas) run interpreted and measured 3-8× slower.
    */
  def simHashSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tok = TextFunctions.shingleRows(df, idCol, textCol, 1)
      .select(col("id"), xxhash64(col("s")).as("h"))
    val voteAggs = (0 until 64).map { j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0L, 1).otherwise(-1)).as(s"b$j")
    }
    val sums = tok.groupBy("id").agg(voteAggs.head, voteAggs.tail: _*)
    val sig = (0 until 64).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("id"), sig.as("sig"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Chunk keys for a 64-bit signature split into `numChunks` nearly
    * equal bit ranges (the first 64 % numChunks chunks get the extra
    * bit). Pigeonhole: any pair within Hamming distance
    * numChunks − 1 shares at least one untouched chunk, so bucketing
    * on (chunk, key) is a COMPLETE candidate generator for
    * maxDistance ≤ numChunks − 1.
    *
    * The Hamming-bound trade at corpus scale: more chunks buy a
    * higher guaranteed distance but shrink each chunk's keyspace
    * (2^(64/numChunks) buckets), growing candidate volume
    * ~ numChunks · n² / 2^(64/numChunks). Fewer, wider chunks (the
    * 4 × 16-bit default: 65k buckets, distance ≤ 3) keep candidates
    * sparse.
    */
  def simHashChunkKeys(sig: Column, numChunks: Int): Column = {
    require(numChunks >= 1 && numChunks <= 64, s"numChunks: $numChunks")
    val base = 64 / numChunks
    val extra = 64 % numChunks
    val widths = (0 until numChunks).map(c => if (c < extra) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    array((0 until numChunks).map { c =>
      val mask = if (widths(c) == 64) -1L else (1L << widths(c)) - 1L
      struct(lit(c).as("chunk"),
        shiftright(sig, offsets(c)).bitwiseAND(lit(mask)).as("key"))
    }: _*)
  }

  /** SimHash near-dup pairs: candidates share one of `numChunks`
    * signature chunks, then filter by exact Hamming ≤ maxDistance
    * (bit_count(xor) — a couple of machine instructions per pair
    * inside codegen). Complete (zero missed pairs) whenever
    * numChunks > maxDistance; with the 4-chunk default that means
    * maxDistance ≤ 3 — larger distances trade recall for candidate
    * volume, see `simHashChunkKeys`.
    */
  def simHashDedupPairs(df: DataFrame, textCol: String, idCol: String,
      maxDistance: Int = 3, numChunks: Int = 4,
      maxBucketSize: Int = 100000): DataFrame =
    simHashDedupPairsFromSigs(
      graft.TransientCache.persist(simHashSignatures(df, textCol, idCol)),
      maxDistance, numChunks, maxBucketSize)

  /** Bucketed pairs from a precomputed (id, sig) frame — callers
    * comparing bucketed vs brute answers persist the signatures once
    * and feed both paths.
    */
  def simHashDedupPairsFromSigs(sigs: DataFrame,
      maxDistance: Int, numChunks: Int,
      maxBucketSize: Int = 100000): DataFrame = {
    // candidates on (chunk, key, id) only; the 8-byte signature
    // rejoins after pair-dedup
    val chunked = sigs.select(col("id"),
      explode(simHashChunkKeys(col("sig"), numChunks)).as("ck"))
      .select(col("id"), col("ck.chunk"), col("ck.key"))
    candidatePairs(chunked, Seq("chunk", "key"), maxBucketSize)
      .join(sigs.select(col("id").as("ida"), col("sig").as("siga")), "ida")
      .join(sigs.select(col("id").as("idb"), col("sig").as("sigb")), "idb")
      .withColumn("hamming", hamming(col("siga"), col("sigb")).cast("int"))
      .filter(col("hamming") <= maxDistance)
      .select(col("ida"), col("idb"), col("hamming"))
  }

  /** Incremental SimHash near-dup: a newly ingested batch vs an
    * AT-REST signature index (the `simHashSignatures` (id, sig)
    * frame, persisted once per corpus — 16 bytes/doc, the cheapest
    * index in the family). Mirrors `minHashIndexPairs` /
    * `appendToIvfIndex`'s new-vs-index contract: candidates come
    * from chunked pigeonhole buckets joined batch-side against the
    * index's (capped) buckets, so candidate volume scales with the
    * BATCH, never corpus²; survivors are hamming-verified. The
    * pigeonhole guarantee holds unchanged (numChunks > maxDistance ⇒
    * some chunk matches exactly), so cross-boundary recall at
    * `maxDistance` is total wherever no bucket overflows the cap.
    * Output: (ida = index doc, idb = batch doc, hamming).
    */
  def simHashIndexPairs(newDocs: DataFrame, sigIndex: DataFrame,
      textCol: String, idCol: String, maxDistance: Int = 3,
      numChunks: Int = 4, maxBucketSize: Int = 100000): DataFrame =
    simHashIndexPairsFromSigs(
      graft.TransientCache.persist(
        simHashSignatures(newDocs, textCol, idCol)),
      sigIndex, maxDistance, numChunks, maxBucketSize)

  /** Index path from a precomputed batch (id, sig) frame — callers
    * comparing the index answer against the brute cross scan persist
    * the batch signatures once and feed both paths (the FromSigs
    * convention of this family). Id spaces SHOULD be disjoint (an id
    * in both frames is a re-ingest — dedup against the stale index
    * row first); self-pairs (ida == idb) are excluded here exactly as
    * `simHashCrossBruteForce` excludes them, so the completeness
    * relationship between the two paths holds even under overlap.
    */
  def simHashIndexPairsFromSigs(newSigs: DataFrame, sigIndex: DataFrame,
      maxDistance: Int = 3, numChunks: Int = 4,
      maxBucketSize: Int = 100000): DataFrame = {
    def chunked(s: DataFrame) = s.select(col("id"),
      explode(simHashChunkKeys(col("sig"), numChunks)).as("ck"))
      .select(col("id"), col("ck.chunk"), col("ck.key"))
    val cOld = chunked(sigIndex)
    val okBuckets = cOld.groupBy("chunk", "key")
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucketSize)
      .select("chunk", "key")
    val cand = chunked(newSigs)
      .select(col("chunk"), col("key"), col("id").as("idb"))
      .join(cOld.join(okBuckets, Seq("chunk", "key"))
        .select(col("chunk"), col("key"), col("id").as("ida")),
        Seq("chunk", "key"))
      .filter(col("ida") =!= col("idb"))
      .select(col("ida"), col("idb"))
      .dropDuplicates("ida", "idb")
    cand
      .join(sigIndex.select(col("id").as("ida"), col("sig").as("siga")), "ida")
      .join(newSigs.select(col("id").as("idb"), col("sig").as("sigb")), "idb")
      .withColumn("hamming", hamming(col("siga"), col("sigb")).cast("int"))
      .filter(col("hamming") <= maxDistance)
      .select(col("ida"), col("idb"), col("hamming"))
  }

  /** Brute-force CROSS pairs between two (id, sig) frames (the
    * completeness oracle for `simHashIndexPairs`): broadcast the
    * smaller batch side, codegen bit_count scan of the index side.
    */
  def simHashCrossBruteForce(sigsIndex: DataFrame, sigsBatch: DataFrame,
      maxDistance: Int): DataFrame =
    sigsIndex.select(col("id").as("ida"), col("sig").as("siga"))
      .join(broadcast(
        sigsBatch.select(col("id").as("idb"), col("sig").as("sigb"))),
        col("ida") =!= col("idb"))
      .withColumn("hamming", hamming(col("siga"), col("sigb")).cast("int"))
      .filter(col("hamming") <= maxDistance)
      .select(col("ida"), col("idb"), col("hamming"))

  /** Brute-force all-pairs SimHash neighbors: broadcast the (id, sig)
    * frame — 16 bytes/row — and nested-loop with codegen'd
    * bit_count. The completeness oracle for the bucketed variant
    * (and viable on its own up to ~10M docs; past that, buckets).
    */
  def simHashBruteForcePairs(df: DataFrame, textCol: String, idCol: String,
      maxDistance: Int): DataFrame =
    // persist: both join sides read the same aggregate — without it
    // the signature pipeline runs twice (once per side)
    simHashBruteForcePairsFromSigs(
      graft.TransientCache.persist(simHashSignatures(df, textCol, idCol)),
      maxDistance)

  /** Brute-force pairs from a precomputed (id, sig) frame. */
  def simHashBruteForcePairsFromSigs(sigs: DataFrame, maxDistance: Int): DataFrame = {
    val a = sigs.select(col("id").as("ida"), col("sig").as("siga"))
    val b = sigs.select(col("id").as("idb"), col("sig").as("sigb"))
    a.join(broadcast(b), col("ida") < col("idb"))
      .withColumn("hamming", hamming(col("siga"), col("sigb")).cast("int"))
      .filter(col("hamming") <= maxDistance)
      .select(col("ida"), col("idb"), col("hamming"))
  }

  /** Exact n-gram Jaccard similarity over ALL pairs sharing ≥1
    * shingle: explode shingles, codegen'd self-equi-join on the
    * 64-bit shingle hash, |∩| via two-phase count aggregate, |∪| from
    * per-doc counts.
    *
    * Why a self-join and not posting lists: the join SHUFFLES only
    * the exploded (id, hash) rows — small — and its df²-per-key
    * output feeds straight into a partial HashAggregate inside the
    * same codegen stage, combining (ida, idb) counts before the only
    * pair-sized shuffle. The previous posting-list formulation
    * (collect_list per shingle + a Scala flatMap over each list)
    * allocated a tuple per generated pair outside codegen — measured
    * 100.6 s vs ~10 s at sf0.1 for identical output.
    *
    * `maxDf` caps shingle document frequency: shingles appearing in
    * more than maxDf docs are removed from EVERY document's set
    * (stopword-shingle removal — standard corpus-dedup practice;
    * union sizes are recomputed on the filtered sets, so the measure
    * stays a true Jaccard over trimmed sets). Bounds the join
    * fan-out to O(Σ min(df, maxDf)²) at 100 TB. The DEFAULT is
    * finite — an uncapped call is the one shape that blows up
    * quadratically on the first stopword shingle at corpus scale, so
    * unbounded is the explicit opt-in (`maxDf = Int.MaxValue`), not
    * the thing a caller gets by accident. 5000 is a no-op at test
    * scale (max bigram df here is 338) and well above any
    * discriminative shingle's df at corpus scale.
    */
  /** Shared shingle prep for the exact-Jaccard paths: distinct
    * (id, 64-bit shingle hash) rows with the df cap applied, plus the
    * surviving shingles' document frequencies (exact — the cap only
    * removes whole shingle groups, so kept-set df == corpus df for
    * every survivor). Both frames are lazy; a caller that never uses
    * the dfs frame never pays for it. The kept rows come back
    * persisted via TransientCache (read multiple times downstream).
    */
  private def keptShingleRows(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int, maxDf: Int): (DataFrame, DataFrame) = {
    val exploded = TextFunctions.shingleRows(df, idCol, textCol, shingleSize)
      .dropDuplicates("id", "s")
      .select(col("id"), xxhash64(col("s")).as("s"))
    val dfs = exploded.groupBy("s").agg(count(lit(1)).as("sdf"))
    val (kept, keptDfs) =
      if (maxDf == Int.MaxValue) (exploded, dfs)
      else {
        val ok = dfs.filter(col("sdf") <= maxDf)
        (exploded.join(ok.select("s"), "s"), ok)
      }
    (graft.TransientCache.persist(kept), keptDfs)
  }

  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, threshold: Double = 0.3,
      maxDf: Int = 5000): DataFrame = {
    val (keptP, _) = keptShingleRows(df, textCol, idCol, shingleSize, maxDf)
    // per-doc set sizes AFTER the df cap (true Jaccard on trimmed sets)
    val sizes = keptP.groupBy("id").agg(count(lit(1)).as("n"))
    val a = keptP.select(col("id").as("ida"), col("s"))
    val b = keptP.select(col("id").as("idb"), col("s").as("s2"))
    // SHUFFLE_HASH over sort-merge: the join keys are a small hashed
    // vocabulary with heavy duplication — hash-probing each bucket
    // beats sorting 2× the exploded rows (measured 26.5 s → 17.9 s
    // at sf0.1)
    val inter = a.hint("SHUFFLE_HASH")
      .join(b.hint("SHUFFLE_HASH"), col("s") === col("s2") && col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("id").as("ida"), col("n").as("na"))), "ida")
      .join(broadcast(sizes.select(col("id").as("idb"), col("n").as("nb"))), "idb")
      .withColumn("jaccard",
        round(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("ida"), col("idb"), col("jaccard"))
  }

  /** Exact n-gram Jaccard pairs via AllPairs/PPJoin prefix filtering
    * (Bayardo et al. WWW'07; Xiao et al. WWW'08) — same output as
    * `ngramJaccardPairs`, asymptotically smaller candidate join.
    *
    * Under a global shingle order (document frequency asc, hash asc —
    * rarest first), any pair with J ≥ t must share a shingle within
    * both docs' PREFIXES of length n − ⌈t·n⌉ + 1: if all common
    * shingles sat in a doc's suffix of length ⌈t·n⌉ − 1, the
    * intersection (≥ ⌈t·n⌉ when J ≥ t) couldn't fit. So the
    * candidate self-join runs on prefix rows only — and because the
    * order puts RARE shingles in prefixes, the df² blowup terms of
    * the full self-join (stopword shingles) are exactly the ones
    * excluded. Candidates verify with the codegen'd
    * `sorted_intersect` over per-doc sorted hash sets (the
    * minhash-verify pattern), so the result is the exact trimmed-set
    * Jaccard, identical to `ngramJaccardPairs` row for row.
    *
    * The ⌈t·n⌉ is computed as ceil(t·n − 1e-9): a last-ulp error in
    * t·n can only LENGTHEN the prefix (more candidates), never
    * shorten it (which would silently drop pairs).
    *
    * Scale shape: one per-doc rank window (partitioned by id — doc
    * sized, never corpus sized), the prefix join shuffles ids only,
    * and the verify join moves each doc's hash set once per
    * CANDIDATE, not per shared shingle.
    *
    * When to use which (measured, sf0.1, identical output): at the
    * bench query's t = 0.3 the prefix is 70% of every doc — a weak
    * filter — and `ngramJaccardPairs`' in-stage partial aggregate
    * (pairs combine inside codegen before any pair-sized shuffle)
    * wins (15 s vs 25 s); at t = 0.6 they cross (24 s vs 20 s,
    * within host noise). Prefix filtering is the right shape when
    * the threshold is high (prefix shrinks as (1−t)·n) or the df
    * tail is heavy: it EXCLUDES stopword shingles from candidate
    * generation entirely, where the plain join can only cap them
    * via maxDf.
    */
  /** Measured crossover between the two exact-Jaccard formulations
    * (sf0.1, identical output, min-of-2): plain self-join 15 s vs
    * prefix 25 s at t = 0.3; parity ~20-24 s at t = 0.6; prefix wins
    * above. The driver of the crossover is prefix length
    * (n − ⌈t·n⌉ + 1 ≈ (1−t)·n): below ~0.6 the prefix covers most of
    * every doc and the plain join's in-stage partial aggregate wins;
    * above, candidate exclusion dominates.
    */
  val NgramJaccardCrossover = 0.6

  /** Calibrated per-candidate cost ratio of the prefix path (pair
    * dedup + per-candidate set movement + sorted_intersect verify)
    * relative to the plain self-join's in-stage partial aggregate.
    * Measured on sf0.1 bigrams (the n-gram crossover probe, retired —
    * OPTIMIZATION_r13.md, Retired diagnostics; min-noise runs,
    * identical 256-row output at every point):
    *
    *   t     pVol/fullVol   plain    prefix
    *   0.30     0.687       12.8 s   13.5 s   (plain wins)
    *   0.45     0.536       11.4 s   11.3 s   (parity)
    *   0.60     0.380       10.5 s   10.2 s   (prefix edges ahead)
    *   0.80     0.192       10.6 s    6.0 s   (prefix wins)
    *
    * Wall parity lands at pVol/fullVol ≈ 0.54 ⇒ overhead = 1/0.54.
    */
  val NgramPrefixOverhead = 1.85

  /** DATA-ADAPTIVE selection between the two exact-Jaccard
    * formulations: picks [[ngramJaccardPairsPrefix]] when its
    * estimated candidate volume (from the kept-shingle df histogram
    * the plan computes anyway) beats [[ngramJaccardPairs]]' by the
    * calibrated [[NgramPrefixOverhead]] factor; the threshold enters
    * only through the prefix-mass estimate, so a corpus whose df
    * tail thickens (candidate density is exactly what testdata
    * regeneration moved 3×) shifts the decision without touching a
    * constant. Volume model: the plain join generates Σ df²
    * candidates over ALL kept shingles; the prefix join keeps each
    * doc's (1−t)·n rarest shingles, which under the global
    * rarest-first order is approximately the low-df shingles
    * carrying a (1−t) fraction of total occurrences — so its volume
    * is the Σ df² partial sum up to that occurrence quantile.
    *
    * The decision probe collects the df HISTOGRAM grouped by
    * distinct df value — ≤ maxDf rows by construction under the
    * finite default cap (model-bounded collect), and its aggregation
    * materializes the kept-shingle frame the chosen branch then
    * reuses from cache, so the probe's marginal cost is one
    * vocabulary-sized aggregate. The unbounded-df opt-in
    * (maxDf = Int.MaxValue) has no collect bound, so it keeps the
    * static [[NgramJaccardCrossover]] rule. The two formulations are
    * row-identical (PipelineSpec pins parity AND the branch choice
    * on dense/sparse corpora), so the choice is pure plan selection.
    */
  def ngramJaccardPairsAuto(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, threshold: Double = 0.3,
      maxDf: Int = 5000): DataFrame = {
    val usePrefix =
      if (maxDf == Int.MaxValue) threshold >= NgramJaccardCrossover
      else {
        val (_, keptDfs) =
          keptShingleRows(df, textCol, idCol, shingleSize, maxDf)
        val hist = keptDfs.groupBy("sdf").agg(count(lit(1)).as("k"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val fullVol = hist.iterator
          .map { case (d, k) => k.toDouble * d * d }.sum
        val totOcc = hist.iterator.map { case (d, k) => k.toDouble * d }.sum
        val mass = (1.0 - threshold) * totOcc
        var acc = 0.0
        var pVol = 0.0
        hist.foreach { case (d, k) =>
          val occ = k.toDouble * d
          if (acc < mass) {
            // the boundary df group enters FRACTIONALLY — the prefix
            // keeps only as many of its shingle slots as fit in the
            // remaining (1−t) occurrence mass
            pVol += math.min(1.0, (mass - acc) / occ) * k * d * d
            acc += occ
          }
        }
        hist.nonEmpty && pVol * NgramPrefixOverhead < fullVol
      }
    if (usePrefix)
      ngramJaccardPairsPrefix(df, textCol, idCol, shingleSize, threshold, maxDf)
    else
      ngramJaccardPairs(df, textCol, idCol, shingleSize, threshold, maxDf)
  }

  def ngramJaccardPairsPrefix(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, threshold: Double = 0.3,
      maxDf: Int = 5000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val (keptP, keptDfs) =
      keptShingleRows(df, textCol, idCol, shingleSize, maxDf)
    val sizes = keptP.groupBy("id").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("id").orderBy(col("sdf").asc, col("s").asc)
    val prefix = keptP.join(keptDfs, "s")
      .withColumn("__pos", row_number().over(w))
      .join(sizes, "id")
      .filter(col("__pos") <=
        col("n") - ceil(col("n") * lit(threshold) - lit(1e-9)) + 1)
      .select("id", "s")
    val a = prefix.select(col("id").as("ida"), col("s"))
    val b = prefix.select(col("id").as("idb"), col("s").as("s2"))
    val cand = a.hint("SHUFFLE_HASH")
      .join(b.hint("SHUFFLE_HASH"),
        col("s") === col("s2") && col("ida") < col("idb"))
      .select("ida", "idb").dropDuplicates("ida", "idb")
    val sets = keptP.groupBy("id")
      .agg(sort_array(collect_list(col("s"))).as("set"),
        count(lit(1)).as("n"))
    cand
      .join(sets.select(col("id").as("ida"), col("set").as("seta"),
        col("n").as("na")), "ida")
      .join(sets.select(col("id").as("idb"), col("set").as("setb"),
        col("n").as("nb")), "idb")
      .withColumn("inter",
        VecExpressions.sortedIntersect(spark, col("seta"), col("setb")))
      .withColumn("jaccard",
        round(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("ida"), col("idb"), col("jaccard"))
  }

  /** Persistable n-gram Jaccard INDEX — one row per document: the
    * SORTED (hash asc) distinct shingle-hash set and its size,
    * completing the index family (MinHash [[buildMinHashIndex]],
    * SimHash signatures, IVF) with the exact-Jaccard member. Saved
    * like any table; every future batch dedups against it via
    * [[ngramJaccardIndexPairs]] WITHOUT touching corpus text again.
    * A `maxDf` cap is applied at build time over THIS corpus and
    * frozen into the stored sets (the frozen-statistics convention
    * the IVF index uses for centroids) — the incremental default is
    * no cap, which keeps batch results exactly equal to an uncapped
    * recompute. Row cost ≈ 8 B/shingle, columnar in parquet.
    */
  def buildNgramIndex(docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, maxDf: Int = Int.MaxValue): DataFrame = {
    val (keptP, _) = keptShingleRows(docs, textCol, idCol, shingleSize, maxDf)
    keptP.groupBy("id")
      .agg(sort_array(collect_list(col("s"))).as("set"),
        count(lit(1)).as("n"))
  }

  /** Shared cross-pair core over two set-index frames (each
    * (id, set, n) as built by [[buildNgramIndex]]): candidates from a
    * postings equi-join, exact verification with the codegen'd
    * two-pointer `sorted_intersect` riding the candidate join.
    *
    * With `prefixFilter` on, each side explodes only its AllPairs
    * PREFIX — the first n − ⌈t·n⌉ + 1 elements of the stored array
    * (one `slice`, no window, no df join: the stored hash-asc order
    * IS a global total order, and the prefix theorem holds under any
    * common order; df-rarest ordering only improves selectivity, it
    * is not needed for losslessness). Any pair with J ≥ t shares its
    * order-minimum common element inside both prefixes, so the
    * filter is exact. With it off, full postings explode — the brute
    * comparator the violation spec pins the filtered path against.
    *
    * Self-pairs (same id on both sides — a re-ingested doc) are
    * excluded, consistent with the SimHash index path.
    */
  private def ngramPairsFromSets(index: DataFrame, batch: DataFrame,
      threshold: Double, prefixFilter: Boolean): DataFrame = {
    val spark = index.sparkSession
    def postings(ix: DataFrame, idAs: String) = {
      val pLen =
        if (prefixFilter)
          (col("n") - ceil(col("n") * lit(threshold) - lit(1e-9)) + 1)
            .cast("int")
        else col("n").cast("int")
      ix.select(col("id").as(idAs),
        explode(slice(col("set"), lit(1), pLen)).as("s"))
    }
    // candidates shuffle ids only; the batch side is batch-sized, so
    // the join scales with the batch, never the corpus
    val cand = postings(index, "ida")
      .join(postings(batch, "idb").withColumnRenamed("s", "s2"),
        col("s") === col("s2") && col("ida") =!= col("idb"))
      .select("ida", "idb").dropDuplicates("ida", "idb")
    val inter = VecExpressions.sortedIntersect(spark, col("seta"), col("setb"))
    cand
      .join(index.select(col("id").as("ida"), col("set").as("seta"),
        col("n").as("na")), "ida")
      .join(batch.select(col("id").as("idb"), col("set").as("setb"),
        col("n").as("nb")), "idb")
      // size-ratio prefilter: J ≥ t ⟹ min(n)/max(n) ≥ t (1e-4 guard
      // so float error can only widen, mirroring minHashIndexPairs)
      .filter(least(col("na"), col("nb")).cast("double")
        >= greatest(col("na"), col("nb")).cast("double") * lit(threshold - 1e-4))
      .withColumn("jaccard",
        round(inter.cast("double")
          / (col("na") + col("nb") - inter).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("ida"), col("idb"), col("jaccard"))
  }

  /** Incremental exact n-gram Jaccard against a SAVED index (the
    * exact-Jaccard member of the new-vs-index family): shingle the
    * batch once, then AllPairs-prefix candidates + sorted-intersect
    * verify against the at-rest sets. Output (ida = index id,
    * idb = new id, jaccard ≥ threshold) — EXACT, not approximate:
    * the prefix filter is lossless, so this equals the uncapped
    * cross recompute row for row (driver query carries the real
    * DuckDB cross-Jaccard oracle; PipelineSpec pins filtered ==
    * brute and a parquet round-trip of the index).
    */
  def ngramJaccardIndexPairs(newDocs: DataFrame, index: DataFrame,
      textCol: String, idCol: String, shingleSize: Int = 3,
      threshold: Double = 0.8): DataFrame =
    ngramJaccardIndexPairsFromSets(
      graft.TransientCache.persist(
        buildNgramIndex(newDocs, textCol, idCol, shingleSize)),
      index, threshold)

  /** The FromSets form: batch sets computed once, shared with other
    * consumers (the FromSigs convention).
    */
  def ngramJaccardIndexPairsFromSets(newSets: DataFrame, index: DataFrame,
      threshold: Double): DataFrame =
    ngramPairsFromSets(index, newSets, threshold, prefixFilter = true)

  /** Brute comparator for the violation oracle: full-postings
    * candidates (no prefix filter), same verify — the ground truth
    * the filtered path must match exactly.
    */
  def ngramJaccardCrossBruteForce(index: DataFrame, newSets: DataFrame,
      threshold: Double): DataFrame =
    ngramPairsFromSets(index, newSets, threshold, prefixFilter = false)

  // ===== Exact substring (span-level) dedup =====

  /** Maximal duplicated token spans per document — exact substring
    * dedup, the span-level member of the exact-dedup family (after
    * Lee et al. 2022's suffix-array ExactSubstr, re-expressed
    * relationally; the reference only dedups whole documents — the
    * `enable_deduplication` flag in
    * graph/views/src/stream_processing.rs:428):
    *
    *  1. positional word k-grams — ONE explode, corpus-linear;
    *  2. grams present in ≥ minDocs distinct docs — hash-groupBy on
    *     the 64-bit gram hash with map-side combine (a hot gram
    *     AGGREGATES, it never fans out). CROSS-DOCUMENT ONLY: the
    *     filter counts DISTINCT docs, so a substring repeated only
    *     WITHIN one document is never flagged — a deliberate
    *     divergence from Lee et al., whose suffix array counts total
    *     occurrences and flags within-doc repeats too (within-doc
    *     repetition is covered separately by text_repetition's
    *     ratio stats);
    *  3. per-doc interval union of the surviving grams'
    *     [pos, pos+k−1] coverage — one gaps-and-islands window
    *     partitioned by doc.
    *
    * Returns (id, span_start, span_end, span_tokens): 0-based
    * INCLUSIVE token offsets into the normalized (lowercased,
    * whitespace-collapsed) token sequence, spans maximal (two
    * duplicated grams whose coverage touches or overlaps merge).
    *
    * Why this member exists at 100 TB: every near-dup op here is a
    * candidate-PAIR join, quadratic on a pathological corpus and
    * capped to stay safe; this one has no pairs at all — two
    * equi-shuffles on the gram hash plus a per-doc window, linear in
    * token count, the same reason the suffix-array formulation wins
    * at scale. Joining on xxhash64(gram) shuffles 8 bytes per gram
    * instead of a ~6k-char string (k·avg-word); a 2⁻⁶⁴ collision can
    * only ADD a spurious span (never lose one).
    */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, minDocs: Int = 2): DataFrame = {
    val grams = graft.TransientCache.persist(
      TextFunctions.shingleRowsWithPos(df, idCol, textCol, k)
        .select(col("id"), col("pos"), xxhash64(col("s")).as("gh")))
    val dup = grams.groupBy("gh")
      .agg(count_distinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gh")
    coverageIslands(grams.join(dup, "gh").select("id", "pos"), k)
  }

  /** Interval-union (gaps-and-islands) of duplicated-gram hits into
    * maximal spans: one window partitioned by doc. Input (id, pos);
    * output (id, span_start, span_end, span_tokens). A row starts a
    * new island when its interval [pos, pos+k−1] neither overlaps
    * nor touches the furthest coverage end seen so far.
    */
  private def coverageIslands(hits: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val prevEnd = max(col("pos") + lit(k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("brk",
        when(col("pos") > coalesce(prevEnd, lit(-2)) + 1, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("id"), col("island"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(k - 1)).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .select("id", "span_start", "span_end", "span_tokens")
  }

  /** At-rest gram index for incremental span dedup: the DISTINCT
    * 64-bit gram hashes of the corpus (k is the caller's contract,
    * recorded by convention in the index path). Persist with
    * `.write.parquet` next to the corpus; `duplicatedSpansVsIndex`
    * probes it. Corpus-linear to build, and the smallest possible
    * probe side — 8 bytes per distinct gram.
    */
  def buildSpanGramIndex(corpus: DataFrame, textCol: String, idCol: String,
      k: Int = 5): DataFrame =
    TextFunctions.shingleRowsWithPos(corpus, idCol, textCol, k)
      .select(xxhash64(col("s")).as("gh")).distinct()

  /** Incremental span dedup (new-vs-index, the fifth index-family
    * member): maximal spans of each BATCH doc covered by grams the
    * at-rest corpus has seen — candidates scale with the batch, never
    * the corpus (the corpus contributes one build-time distinct-hash
    * index; the probe is an ids-only semi-join against it). Batch-
    * internal duplication deliberately does NOT count (cross-boundary
    * only), matching the other new-vs-index members.
    */
  def duplicatedSpansVsIndex(batch: DataFrame, gramIndex: DataFrame,
      textCol: String, idCol: String, k: Int = 5): DataFrame = {
    val grams = TextFunctions.shingleRowsWithPos(batch, idCol, textCol, k)
      .select(col("id"), col("pos"), xxhash64(col("s")).as("gh"))
    coverageIslands(
      grams.join(gramIndex.select("gh"), Seq("gh"), "left_semi")
        .select("id", "pos"), k)
  }

  /** Per-document duplicated-span statistics against the doc's own
    * token count: (id, n_dup_spans, dup_tokens, dup_frac) — the
    * RefinedWeb/FineWeb-style doc-level repetition budget (drop or
    * downweight docs whose duplicated fraction exceeds a threshold).
    * Docs with no duplicated span are absent (inner-join semantics);
    * compose with a left join + coalesce(0) for the keep-all view.
    */
  def duplicatedSpanStats(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, minDocs: Int = 2): DataFrame = {
    val spans = duplicatedSpans(df, textCol, idCol, k, minDocs)
    val perDoc = spans.groupBy("id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum("span_tokens").as("dup_tokens"))
    val nTok = df.select(col(idCol).as("id"),
      size(TextFunctions.normWords(col(textCol)))
        .as("n_tokens"))
    perDoc.join(nTok, "id")
      .select(col("id"), col("n_dup_spans"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens"), 4)
          .as("dup_frac"))
  }

  /** Cut duplicated spans out of every document EXCEPT one canonical
    * occurrence per exact MAXIMAL-SPAN text (min id, then min
    * offset). Returns (id, text) with the NORMALIZED token stream
    * re-joined by single spaces — span offsets index the normalized
    * sequence, so the cut is defined on it.
    *
    * SEMANTICS, precisely: the keep-one guarantee is per maximal-span
    * text, which is WEAKER than ExactSubstr's per-duplicated-
    * substring guarantee — a substring embedded in differently-sized
    * islands survives once per distinct island text (docA span
    * "a b c d" and docC span "b c d" are different groups, so
    * "b c d" remains in both survivors). Exact parity with this
    * definition is what the dedup_span_strip oracle pins; callers
    * needing the stronger guarantee should iterate strip→respan to a
    * fixpoint (each pass only removes text, so it terminates).
    *
    * Scale: the keep-rank window partitions by the 64-bit span-text
    * hash (dup spans are short relative to docs — the shuffle carries
    * (hash, id, offsets), not documents); the cut itself is a per-doc
    * anti-join of token positions against that doc's cut intervals
    * (equi on id + range residual), then one per-doc rebuild. A hash
    * collision here could merge two distinct span groups and drop a
    * copy that should have survived — acceptable for a curation cut,
    * noted for audit.
    */
  def stripDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, minDocs: Int = 2): DataFrame = {
    val spans = duplicatedSpans(df, textCol, idCol, k, minDocs)
    val withWords = df.select(col(idCol).as("id"),
      TextFunctions.normWords(col(textCol)).as("w"))
    rebuildAfterCuts(df, spanCutsKeepCanonical(spans, withWords),
      textCol, idCol)
  }

  /** Keep-rank cut intervals from precomputed maximal spans: group by
    * exact span TEXT (its xxhash64 — dup spans are short relative to
    * docs, so the shuffle carries (hash, id, offsets), not documents),
    * keep the min-(id, offset) occurrence, cut the rest.
    */
  private def spanCutsKeepCanonical(spans: DataFrame,
      withWords: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spanText = spans.join(withWords, "id")
      .withColumn("sh", xxhash64(concat_ws(" ",
        slice(col("w"), col("span_start") + 1,
          col("span_end") - col("span_start") + 1))))
      .select("id", "span_start", "span_end", "sh")
    val keepRank = row_number().over(
      Window.partitionBy("sh").orderBy(col("id"), col("span_start")))
    spanText.withColumn("rk", keepRank)
      .filter(col("rk") > 1)
      .select(col("id"), col("span_start"), col("span_end"))
  }

  /** Rebuild (id, textCol) from `df` with the cut intervals removed.
    * SELECTIVE: only docs that actually have a cut pay the
    * explode → anti-join → collect_list rebuild; every other doc is
    * a plain normalize projection (no explode, no aggregate) — after
    * the first fixpoint round almost nothing is cut, so the rebuild
    * cost tracks the CUT set, not the corpus. A doc cut down to
    * nothing surfaces as empty text, not a missing row.
    */
  private def rebuildAfterCuts(df: DataFrame, cuts: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val cutIds = cuts.select("id").distinct()
    val untouched = df
      .select(col(idCol).as("id"),
        concat_ws(" ", TextFunctions.normWords(col(textCol))).as(textCol))
      .join(cutIds, Seq("id"), "left_anti")
    untouched.unionByName(rebuildCutDocs(
      df.select(col(idCol).as("id"), col(textCol)), cuts, textCol))
  }

  /** The explode-side of the rebuild, restricted to docs WITH cuts:
    * token positions anti-joined against their doc's cut intervals
    * (equi on id + range residual), one per-doc ordered re-join.
    * Input `df` must carry (id, textCol).
    */
  private def rebuildCutDocs(df: DataFrame, cuts: DataFrame,
      textCol: String): DataFrame = {
    val cutIds = cuts.select("id").distinct()
    val toks = TextFunctions.shingleRowsWithPos(
      df.join(cutIds, Seq("id"), "left_semi"), "id", textCol, 1)
    val kept = toks.join(cuts,
      toks("id") === cuts("id") &&
        toks("pos") >= cuts("span_start") && toks("pos") <= cuts("span_end"),
      "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(array_sort(collect_list(struct(col("pos"), col("s")))).as("ts"))
      .select(col("id"),
        array_join(transform(col("ts"), t => t.getField("s")), " ")
          .as(textCol))
    cutIds.join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col(textCol), lit("")).as(textCol))
  }

  /** Stall-breaker for the fixpoint: cut intervals at GRAM
    * granularity — per duplicated gram hash, keep the min-(id, pos)
    * occurrence, cut every other occurrence's [pos, pos+k−1] window.
    * Only used when a round's maximal-span-text grouping yields zero
    * cuts while duplicated grams remain (every island text distinct,
    * e.g. the shared substring embedded in different-sized islands in
    * EVERY doc) — grouping by gram always finds ≥ 2 occurrences of
    * some gram, so the round removes ≥ 1 token and the loop cannot
    * stall. Takes the maintained (id, pos, gh) gram rows directly.
    */
  private def gramCutsKeepCanonical(grams: DataFrame,
      k: Int, minDocs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dup = grams.groupBy("gh")
      .agg(count_distinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gh")
    val rk = row_number().over(
      Window.partitionBy("gh").orderBy(col("id"), col("pos")))
    grams.join(dup, "gh")
      .withColumn("rk", rk)
      .filter(col("rk") > 1)
      .select(col("id"), col("pos").as("span_start"),
        (col("pos") + lit(k - 1)).as("span_end"))
  }

  /** Strip→respan FIXPOINT — the stronger ExactSubstr guarantee
    * stripDuplicatedSpans alone doesn't give (see its SEMANTICS note:
    * keep-one is per maximal-span TEXT, so a substring embedded in
    * differently-sized islands survives once per distinct island
    * text; and cutting an interval splices new k-grams together at
    * the junction, which can themselves be duplicated). Iterate
    * strip → recompute spans → strip until duplicatedSpans on the
    * current text is EMPTY — at that point no k-token window is
    * shared by ≥ minDocs docs, i.e. no cross-doc duplicated span of
    * ≥ k tokens survives anywhere (the dedup_span_fixpoint violation
    * oracle asserts exactly this).
    *
    * Termination: every round removes ≥ 1 token (the gram-granular
    * stall-breaker guarantees progress when the span-text grouping
    * can't), so token count strictly decreases; `maxRounds` caps the
    * loop regardless, and `converged` reports whether the guarantee
    * was reached within the cap. Per round: one localCheckpoint cuts
    * the lineage (the text column is round-dependent, so plan depth
    * would otherwise grow linearly), and per-round driver actions are
    * two small counts — the standard iterative-operator shape
    * (Algorithms.scala loops). Corpus-linear per round like the
    * underlying operator; rounds observed on real corpora: 2-3.
    */
  def stripDuplicatedSpansFixpointStats(df: DataFrame, textCol: String,
      idCol: String, k: Int = 5, minDocs: Int = 2, maxRounds: Int = 8)
      : (DataFrame, Int, Boolean) = {
    // Normalize ONCE; every later round's rebuilt text is already in
    // normalized form (single-spaced lowercase tokens), so per-round
    // work never re-normalizes the corpus.
    var cur = df.select(col(idCol).as("id"),
      concat_ws(" ", TextFunctions.normWords(col(textCol))).as(textCol))
      .cut(reliable = false)
    // (id, pos, gh) gram rows maintained INCREMENTALLY: a round only
    // re-tokenizes the docs it actually cut (their grams are replaced
    // wholesale; everyone else's are untouched rows in the persisted
    // frame) — so round N+1's gram-count aggregate reads a cached
    // frame instead of re-exploding the corpus. This is what keeps
    // the fixpoint's marginal round near-free once cuts get sparse.
    def gramRows(d: DataFrame): DataFrame =
      TextFunctions.shingleRowsWithPos(d, "id", textCol, k)
        .select(col("id"), col("pos"), xxhash64(col("s")).as("gh"))
    var grams = gramRows(cur).cut(reliable = false)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val dup = grams.groupBy("gh")
        .agg(count_distinct(col("id")).as("nd"))
        .filter(col("nd") >= minDocs)
        .select("gh")
      val spans = graft.TransientCache.persist(
        coverageIslands(grams.join(dup, "gh").select("id", "pos"), k))
      if (spans.isEmpty) converged = true
      else {
        val withWords = cur.select(col("id"),
          TextFunctions.normWords(col(textCol)).as("w"))
        val cuts = graft.TransientCache.persist(
          spanCutsKeepCanonical(spans, withWords))
        val effective =
          if (cuts.isEmpty) graft.TransientCache.persist(
            gramCutsKeepCanonical(grams, k, minDocs))
          else cuts
        val cutIds = effective.select("id").distinct()
        val rebuilt = rebuildCutDocs(cur, effective, textCol)
          .cut(reliable = false)
        // MEMORY ROTATION: localCheckpoint is eager, so once the new
        // cur/grams materialize, the previous round's blocks are
        // unreferenced — but the ContextCleaner only reclaims them at
        // a GC, and a many-round corpus can OOM on 2-3 live copies of
        // the gram frame before one happens (observed at sf0.1). The
        // loop keeps exactly two generations alive and nudges the
        // collector each round.
        cur = cur.join(cutIds, Seq("id"), "left_anti")
          .unionByName(rebuilt)
          .cut(reliable = false)
        grams = grams.join(cutIds, Seq("id"), "left_anti")
          .unionByName(gramRows(rebuilt))
          .cut(reliable = false)
        spans.unpersist(blocking = false)
        cuts.unpersist(blocking = false)
        System.gc()
        rounds += 1
      }
    }
    (cur, rounds, converged)
  }

  /** The plain-DataFrame form of the fixpoint (see
    * stripDuplicatedSpansFixpointStats for semantics + termination).
    */
  def stripDuplicatedSpansFixpoint(df: DataFrame, textCol: String,
      idCol: String, k: Int = 5, minDocs: Int = 2, maxRounds: Int = 8)
      : DataFrame =
    stripDuplicatedSpansFixpointStats(df, textCol, idCol, k, minDocs,
      maxRounds)._1

  /** Fuzzy record linkage: all (id, id) pairs whose string column is
    * within levenshtein distance `maxDist` (∈ {1, 2}), via SymSpell
    * delete-neighborhood candidates (Garbe's approach, public): each
    * string's signature set is itself plus every way of deleting up
    * to `maxDist` characters, and two strings within edit distance e
    * share a ≤e-deletion signature (take an optimal alignment and
    * delete each side's edited positions — what remains is a common
    * string), so a hash JOIN on signatures is candidate-COMPLETE and
    * an exact levenshtein verify on the candidates makes the result
    * identical to the quadratic all-pairs scan the oracle runs.
    *
    * Scale posture: signatures per string are len+1 (maxDist 1) /
    * O(len²) (maxDist 2) — linear in corpus size either way, vs the
    * n² brute force; the join carries (sig-hash, id) only and strings
    * rejoin AFTER pair-dedup, so signature buckets never fan document
    * bodies out. Verify is codegen'd `levenshtein` (with its early-
    * exit threshold form) on the deduped candidate pairs. Identical
    * strings under different ids surface as dist-0 rows — record
    * linkage wants exact matches too.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      "delete-neighborhood candidates are built for maxDist 1 or 2")
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
    def deletions(src: DataFrame): DataFrame =
      // the length guard keeps sequence() ascending (Spark's
      // sequence(1, 0) runs DESCENDING rather than empty)
      src.filter(length(col("s")) >= 1)
        .select(col("id"), explode(transform(
          sequence(lit(1), length(col("s"))),
          i => concat(col("s").substr(lit(1), i - 1),
            col("s").substr(i + 1, length(col("s")))))).as("s"))
    var sigs = base
    for (_ <- 1 to maxDist)
      sigs = sigs.unionByName(deletions(sigs)).distinct()
    val keyed = sigs.select(xxhash64(col("s")).as("sig"), col("id"))
    val cand = keyed.alias("a")
      .join(keyed.alias("b"), col("a.sig") === col("b.sig") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    val s1 = base.select(col("id").as("id1"), col("s").as("s1"))
    val s2 = base.select(col("id").as("id2"), col("s").as("s2"))
    cand.join(s1, Seq("id1")).join(s2, Seq("id2"))
      .withColumn("dist", levenshtein(col("s1"), col("s2")))
      .filter(col("dist") <= maxDist)
      .select(col("id1"), col("id2"), col("s1"), col("s2"),
        col("dist").cast("long").as("dist"))
  }
}
