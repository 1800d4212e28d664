package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Sampling, Similarity, Sketches, TextFunctions}
import graft.multimodal.Multimodal
import graft.sources.Tables

/** Training-data pipeline pack: dedup, similarity search, text
  * analysis, multimodal plumbing — the beyond-reference operator set
  * a 100 TB corpus pipeline needs (builder brief; SURVEY §7 M8).
  *
  * Oracle strategy: everything whose math is engine-reproducible gets
  * a DuckDB value-parity oracle (exact dedup groups, n-gram Jaccard,
  * double-precision cosine top-k, quality/langid scoring, stub
  * decode). Hash-seeded operators (MinHash, SimHash, hyperplane LSH)
  * get HARD checks too: the near-dup operators ship exact-verified
  * (candidates from the sketch, true Jaccard verifies — output
  * equals the SQL-computable exact answer when candidate recall is
  * 1, which holds deterministically here with documented margin),
  * and the remaining sketch properties are asserted as
  * expected-empty queries (bucket completeness, ANN recall floor)
  * whose oracles are typed empty sets.
  */
object PipelineQueries {

  /** Mixing rate table for the sampling queries: up-weight two named
    * sources, down-weight one, sample everything else at 10%.
    */
  private val mixRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: normalized-text fingerprint groups.
    "dedup_exact" -> ((s, dir) => {
      Dedup.exactDedup(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id")
    }),

    // Exact substring dedup (span level, Lee et al. 2022 ExactSubstr
    // re-expressed relationally): maximal duplicated word-5-gram
    // coverage spans per doc, surfaced as the FineWeb-style
    // doc-level repetition stats (span count, duplicated tokens,
    // duplicated fraction). No pair join anywhere — linear in corpus
    // token count; see Dedup.duplicatedSpans.
    "dedup_span_exact" -> ((s, dir) => {
      Dedup.duplicatedSpanStats(Tables.documents(s, dir), "text", "doc_id",
        k = 5, minDocs = 2)
        .select(col("id").as("doc_id"), col("n_dup_spans"),
          col("dup_tokens"), col("dup_frac"))
        .orderBy("doc_id")
    }),

    // The MUTATING side of exact substring dedup: every duplicated
    // span is cut from every doc except the min-(id, offset)
    // occurrence per exact span text; fully-cut docs surface as
    // empty text. The query returns the DELTA view — only docs whose
    // text changed (what a pipeline writes back), which also keeps
    // the bench honest: an all-docs projection lets count() prune the
    // rebuilt text and eliminate the unique-key left join, timing a
    // collapsed plan (measured 0.2 s vs ~2 s real). Full value
    // oracle — DuckDB rebuilds the same normalized token streams.
    "dedup_span_strip" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val orig = d.select(col("doc_id"),
        concat_ws(" ", TextFunctions.normWords(col("text"))).as("__orig"))
      Dedup.stripDuplicatedSpans(d, "text", "doc_id", k = 5, minDocs = 2)
        .withColumnRenamed("id", "doc_id")
        .join(orig, "doc_id")
        .filter(col("text") =!= col("__orig"))
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    // Incremental span dedup (new-vs-index): batch docs
    // (doc_id % 10 = 0) probed against the at-rest distinct-gram
    // index of the rest of the corpus; output is the batch docs'
    // maximal corpus-covered spans with exact offsets. Exact and
    // cross-boundary-only, so the oracle is the real answer.
    "dedup_span_increment" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val idx = graft.TransientCache.persist(Dedup.buildSpanGramIndex(
        d.filter(col("doc_id") % 10 =!= 0), "text", "doc_id", k = 5))
      Dedup.duplicatedSpansVsIndex(d.filter(col("doc_id") % 10 === 0),
        idx, "text", "doc_id", k = 5)
        .select(col("id").as("doc_id"), col("span_start"),
          col("span_end"), col("span_tokens"))
        .orderBy("doc_id", "span_start")
    }),

    // Strip→respan FIXPOINT (the stronger Lee et al. guarantee —
    // stripDuplicatedSpans alone keeps one copy per maximal-span
    // TEXT, and cutting splices new k-grams at the junctions).
    // VIOLATION query: after the fixpoint, NO 5-token window may be
    // shared by ≥2 docs — the query returns duplicatedSpans of the
    // fixpoint result, and the oracle types it empty. The fixpoint
    // itself (strip → respan → strip, localCheckpoint per round) is
    // forced through the bench action by the final span scan.
    "dedup_span_fixpoint" -> ((s, dir) => {
      val stripped = Dedup.stripDuplicatedSpansFixpoint(
        Tables.documents(s, dir), "text", "doc_id", k = 5, minDocs = 2)
      Dedup.duplicatedSpans(stripped, "text", "id", k = 5, minDocs = 2)
        .select(col("id").as("doc_id"), col("span_start"),
          col("span_end"), col("span_tokens"))
        .orderBy("doc_id", "span_start")
    }),

    // MinHash+LSH near-dups, exact-verified (the production shape):
    // banding on relationally-computed signatures generates
    // candidates; true bigram-set Jaccard ≥ 0.8 verifies. At 16
    // bands × 2 rows the per-pair candidate-miss probability at
    // j = 0.8 is (1−0.8²)^16 ≈ 2e-8, so the output deterministically
    // equals the full exact-Jaccard answer — which is the oracle.
    "dedup_minhash_lsh" -> ((s, dir) => {
      Dedup.minHashDedupPairsExact(Tables.documents(s, dir), "text", "doc_id",
        shingleSize = 2, threshold = 0.8, numHashes = 32, bands = 16)
        .orderBy("ida", "idb")
    }),

    // SimHash near-dups, exact-verified: 64-bit signature Hamming ≤ 16
    // as the O(n²) prefilter (16 bytes/doc broadcast, bit_count in
    // codegen), exact bigram Jaccard ≥ 0.8 verifies. True pairs
    // measure Hamming ≤ 12 on this corpus — margin documented in
    // Dedup.simHashDedupPairsExact.
    "dedup_simhash" -> ((s, dir) => {
      Dedup.simHashDedupPairsExact(Tables.documents(s, dir), "text", "doc_id",
        shingleSize = 2, threshold = 0.8, maxDistance = 16)
        .orderBy("ida", "idb")
    }),

    // SimHash chunk-bucket completeness: at maxDistance 3 with 4
    // chunks the pigeonhole guarantee says bucketed candidates find
    // EVERY Hamming ≤ 3 pair — the symmetric difference vs the
    // brute-force scan must be empty (and the oracle says so).
    "dedup_simhash_complete" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sigs = graft.TransientCache.persist(
        Dedup.simHashSignatures(docs, "text", "doc_id"))
      val bucketed = Dedup.simHashDedupPairsFromSigs(sigs,
        maxDistance = 3, numChunks = 4)
      val brute = Dedup.simHashBruteForcePairsFromSigs(sigs, 3)
      bucketed.exceptAll(brute).unionAll(brute.exceptAll(bucketed))
        .orderBy("ida", "idb")
    }),

    // Incremental SimHash (new-vs-index, mirroring dedup_increment's
    // MinHash path and ann_ivf_increment's IVF path): batch = docs
    // with doc_id % 10 == 0 against the at-rest signature index of
    // the rest. VIOLATION query: the bucketed index path must find
    // EVERY cross-boundary Hamming ≤ 3 pair the brute-force cross
    // scan finds (pigeonhole: 4 chunks > 3 flips), and nothing else
    // — symmetric difference empty, typed-empty oracle.
    "dedup_simhash_increment" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sigIndex = graft.TransientCache.persist(
        Dedup.simHashSignatures(
          docs.filter(col("doc_id") % 10 =!= 0), "text", "doc_id"))
      // batch signatures computed ONCE, feeding both paths (the
      // FromSigs convention)
      val batchSigs = graft.TransientCache.persist(
        Dedup.simHashSignatures(
          docs.filter(col("doc_id") % 10 === 0), "text", "doc_id"))
      val indexed = Dedup.simHashIndexPairsFromSigs(batchSigs, sigIndex,
        maxDistance = 3, numChunks = 4)
      val brute = Dedup.simHashCrossBruteForce(sigIndex, batchSigs, 3)
      indexed.exceptAll(brute).unionAll(brute.exceptAll(indexed))
        .orderBy("ida", "idb")
    }),

    // Incremental EXACT n-gram Jaccard (new-vs-index) — the fourth
    // index-family member, and the only exact one: batch trigram sets
    // vs the at-rest sorted-set index, AllPairs prefix candidates
    // (one slice of the stored array — the hash-asc order is a valid
    // global order), sorted_intersect verify. Lossless, so the
    // oracle is the REAL cross-boundary trigram Jaccard answer, not
    // a violation check.
    "dedup_ngram_increment" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val idx = graft.TransientCache.persist(Dedup.buildNgramIndex(
        d.filter(col("doc_id") % 10 =!= 0), "text", "doc_id",
        shingleSize = 3))
      Dedup.ngramJaccardIndexPairs(d.filter(col("doc_id") % 10 === 0),
        idx, "text", "doc_id", shingleSize = 3, threshold = 0.8)
        .orderBy("ida", "idb")
    }),

    // Exact bigram Jaccard pairs ≥ 0.3, through the threshold
    // selector (t = 0.3 < crossover 0.6 → the partial-aggregate
    // self-join formulation). maxDf caps shingle document frequency
    // (stopword-shingle removal) — a no-op at test scale (max bigram
    // df here is 338) and the quadratic-fan-out guard at corpus
    // scale; the oracle applies the same cap.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairsAuto(Tables.documents(s, dir), "text", "doc_id",
        shingleSize = 2, threshold = 0.3, maxDf = 5000)
        .orderBy("ida", "idb")
    }),

    // The selector's OTHER branch under its own oracle: t = 0.8 ≥ the
    // 0.6 crossover routes to the AllPairs/PPJoin prefix-filtered
    // formulation, so both exact-Jaccard plans carry independent
    // DuckDB parity (the t = 0.3 query can only ever exercise the
    // plain self-join).
    "dedup_ngram_jaccard_prefix" -> ((s, dir) => {
      Dedup.ngramJaccardPairsAuto(Tables.documents(s, dir), "text", "doc_id",
        shingleSize = 2, threshold = 0.8, maxDf = 5000)
        .orderBy("ida", "idb")
    }),

    // Near-dup cluster resolution: exact-verified minhash pairs →
    // connected components → canonical survivor per cluster; every
    // doc maps to its canonical id (itself outside any cluster).
    "dedup_cluster_resolve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minHashDedupPairsExact(docs, "text", "doc_id",
        shingleSize = 2, threshold = 0.8, numHashes = 32, bands = 16)
      Dedup.resolveDupClusters(docs, "doc_id", pairs)
        .orderBy("id")
    }),

    // Benchmark decontamination: docs 0-9 stand in for an eval set;
    // any other doc sharing a word 5-gram with them is contaminated.
    "pipe_decontaminate" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.contamination(
        d.filter(col("doc_id") >= 10), "doc_id", "text",
        d.filter(col("doc_id") < 10), "doc_id", "text", k = 5)
        .orderBy("id")
    }),

    // The same decontamination through the forced Bloom-pre-filter
    // branch (maxBroadcastShingles = 0) — the regime where the bench
    // side is another corpus, too big to broadcast exactly. The 1%-FPR
    // pre-filter only prunes; the exact verify join restores exactness,
    // so this carries the identical oracle as pipe_decontaminate.
    "pipe_decontaminate_bloom" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.contamination(
        d.filter(col("doc_id") >= 10), "doc_id", "text",
        d.filter(col("doc_id") < 10), "doc_id", "text", k = 5,
        maxBroadcastShingles = 0L)
        .orderBy("id")
    }),

    // Embedding near-dup pairs: exact cosine ≥ 0.4 (auto-selects the
    // broadcast nested-loop exact path at this corpus size; LSH
    // beyond maxExactRows).
    "dedup_embedding" -> ((s, dir) => {
      Similarity.embeddingDedupPairs(Tables.embeddings(s, dir), 0.4)
        .orderBy("ida", "idb")
    }),

    // SemDeDup (round 9, Abbas et al. 2023): semantic dedup via
    // k-means cluster bucketing — the quadratic pair scan shrinks to
    // Σ|cell|² within cells. k-means is not DuckDB-expressible, so
    // this is a VIOLATION oracle (the span-fixpoint discipline): the
    // query re-derives ground truth through the INDEPENDENT exact
    // global n² pair scan and emits soundness violations, which must
    // be zero — (a) a dropped vector with no exact near-dup anywhere
    // (drops must be justified), (b) a semantic component that merges
    // vectors from two different exact-pair-graph components (merges
    // must be sound). Border-cell recall loss is the method's
    // documented trade, deliberately NOT a violation.
    "dedup_semantic" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val resolved = graft.TransientCache.persist(
        Similarity.semanticDedup(emb, 0.4, nlist = 8))
      val exactPairs = graft.TransientCache.persist(
        Similarity.embeddingDedupPairs(emb, 0.4).select("ida", "idb"))
      val dropped = resolved.filter(col("vec_id") =!= col("canonical_id"))
        .select("vec_id")
      val paired = exactPairs.select(col("ida").as("vec_id"))
        .unionByName(exactPairs.select(col("idb").as("vec_id"))).distinct()
      val v1 = dropped.join(paired, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), lit("dropped_without_neighbor").as("kind"))
      val global = graft.functions.Dedup.resolveDupClusters(
          emb.select(col("vec_id")), "vec_id", exactPairs)
        .select(col("id").as("vec_id"), col("canonical_id").as("gcomp"))
      val v2 = resolved.join(global, "vec_id")
        .groupBy("canonical_id").agg(count_distinct(col("gcomp")).as("n"))
        .filter(col("n") > 1)
        .select(col("canonical_id").as("vec_id"),
          lit("merged_across_exact_components").as("kind"))
      v1.unionByName(v2).orderBy("vec_id", "kind")
    }),

    // Embedding near-dup LSH-branch recall floor: force the LSH path
    // (the branch that activates beyond maxExactRows at real corpus
    // scale) and require it to recover ≥ 80% of the exact-branch
    // pairs. This corpus is the adversarial case — every true pair
    // sits barely above the 0.4 threshold (median cosine 0.42), where
    // hyperplane collision probability is weakest — which is exactly
    // the regime multi-probe exists for: at the default 16 × 8 with
    // Hamming-1 probing, measured recall is 0.924 sf0.001 / 0.932
    // sf0.01 / 0.925 sf0.1 (deterministic — planes are hash-seeded;
    // single-probe at the same tables would be 0.37). Rows are
    // violations, expected (and oracle'd) empty.
    "dedup_embedding_lsh_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val exactPairs = Similarity.embeddingDedupPairs(emb, 0.4,
        exact = Some(true)).select("ida", "idb")
      val lshPairs = Similarity.embeddingDedupPairs(emb, 0.4,
        exact = Some(false), tables = 16, bits = 8, probes = 1)
        .select("ida", "idb")
      val found = exactPairs.join(lshPairs, Seq("ida", "idb"), "left_semi")
        .agg(count(lit(1)).as("found"))
      val total = exactPairs.agg(count(lit(1)).as("total"))
      found.crossJoin(total)
        .filter(col("found").cast("double") < col("total").cast("double") * 0.8)
        .select(col("found"), col("total"))
    }),

    // Brute-force cosine top-10 for the first 10 vectors.
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 10)
        .orderBy("query_id", "rank")
    }),

    // ANN LSH recall floor: every query must recover ≥ 2 of its true
    // (brute-force) top-10 through the 16-table × 6-bit hyperplane
    // buckets — rows are the violations, expected (and oracle'd)
    // empty. Measured per-query hits: min 2 at sf0.01, min 4 at
    // sf0.1 (deterministic — planes are hash-seeded).
    "ann_lsh_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, 10)
        .select("query_id", "corpus_id")
      val approx = Similarity.lshTopK(emb, queries, 10, tables = 16, bits = 6)
        .select("query_id", "corpus_id")
      val hits = exact.join(approx, Seq("query_id", "corpus_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("found"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("found"), lit(0L)).as("found"))
        .filter(col("found") < 2)
        .orderBy("query_id")
    }),

    // ANN IVF recall floor: the inverted-file index (16-cell
    // spherical k-means, 4-cell probe — a quarter of the corpus
    // scanned per query) must recover ≥ 5 of each query's true
    // top-10. Rows are violations, expected (and oracle'd) empty.
    // Measured per-query hits: min 7 at sf0.001/sf0.01, min 8 at
    // sf0.1 (deterministic — seeded from the lowest-id vectors,
    // centroids rounded each update).
    "ann_ivf_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, 10)
        .select("query_id", "corpus_id")
      val approx = Similarity.ivfTopK(emb, queries, 10, nlist = 16, nprobe = 4)
        .select("query_id", "corpus_id")
      val hits = exact.join(approx, Seq("query_id", "corpus_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("found"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("found"), lit(0L)).as("found"))
        .filter(col("found") < 5)
        .orderBy("query_id")
    }),

    // ANN PQ recall floor: product quantization + ADC (8 subspaces ×
    // 32 codes, exact rerank of the top 80) must recover ≥ 3 of each
    // query's true top-10. Rows are violations, expected (and
    // oracle'd) empty. Measured per-query hits: min 4 at
    // sf0.001/sf0.1, min 7 at sf0.01 (deterministic — seeded from
    // the lowest-id vectors, codebooks rounded each update). The
    // code scan touches 8 small ints per corpus vector, not 64
    // floats — the memory-scale path.
    "ann_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, 10)
        .select("query_id", "corpus_id")
      val approx = Similarity.pqTopK(emb, queries, 10,
        m = 8, ksub = 32, rerank = 8)
        .select("query_id", "corpus_id")
      val hits = exact.join(approx, Seq("query_id", "corpus_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("found"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("found"), lit(0L)).as("found"))
        .filter(col("found") < 3)
        .orderBy("query_id")
    }),

    // Incremental IVF index maintenance: the at-rest index is built
    // on 90% of the corpus, the remaining 10% arrives as a batch
    // appended against the FROZEN centroid model (appendToIvfIndex —
    // assign cost scales with the batch, only touched cid partitions
    // gain files), and the directory-pruned probe over the appended
    // index must still recover ≥ 4 of each query's true top-10 over
    // the UNIONED corpus (in-engine brute force). Rows are
    // violations, expected (and oracle'd) empty. Measured per-query
    // hits: min 6 at sf0.001, min 5 at sf0.01/sf0.1 (deterministic —
    // centroids seed from the lowest-id base vectors and round each
    // update); the floor keeps one hit of margin.
    "ann_ivf_increment" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val path = scratchRoot(ivfIncDirs, "graft_ivf_inc", dir)
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 10 =!= 0), path)
      Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 10 === 0), path)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, 10)
        .select("query_id", "corpus_id")
      val approx = Similarity.ivfTopKFromIndex(s, path, queries, 10, nprobe = 4)
        .select("query_id", "corpus_id")
      val hits = exact.join(approx, Seq("query_id", "corpus_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("found"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("found"), lit(0L)).as("found"))
        .filter(col("found") < 4)
        .orderBy("query_id")
    }),

    // IVF refresh policy as a driver-level contract (view_types.rs
    // refresh intent applied to index maintenance): train on 90% of
    // the corpus, then (a) a self-sample probe batch must stay QUIET
    // on every signal — measured assignment cos within 0.017 of the
    // recorded fit at every sf vs the 0.15 margin, max cell share
    // ≤ 0.092 vs the 0.25 threshold — and (b) after the remaining
    // 10% is appended, the growth signal must fire at a 1.05 factor
    // (footer-exact arithmetic: total/trained = 10/9 ≈ 1.111 > 1.05)
    // while drift and imbalance stay silent. Rows are violations,
    // expected (and oracle'd) empty. The DRIFT signal is deliberately
    // not exercised on this corpus: it is too diffuse for a safe
    // margin (fit 0.27-0.34 vs the ~0.225 random-assignment floor of
    // a 16-centroid model — measured across negated / reversed /
    // hash-random batches); PlanSpec pins drift on a constructed
    // clustered corpus where the gap is 0.92.
    "ann_ivf_refresh" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val path = scratchRoot(ivfRefreshDirs, "graft_ivf_rp", dir)
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 10 =!= 0), path)
      val before = Similarity.ivfStaleness(s, path,
        Some(emb.filter(col("vec_id") % 7 === 0)))
      val batch = emb.filter(col("vec_id") % 10 === 0)
      Similarity.appendToIvfIndex(batch, path)
      // the post-append probe passes a REAL in-distribution batch so
      // the drift check below is live (drifted can only fire when a
      // batch is present), and imbalance is asserted explicitly —
      // growth alone must be what trips shouldRetrain
      val after = Similarity.ivfStaleness(s, path,
        Some(emb.filter(col("vec_id") % 7 === 0)), growthFactor = 1.05)
      Seq(
        ("train_fit_must_be_recorded", before.trainedRows == 0L),
        ("in_dist_must_stay_quiet", before.shouldRetrain),
        ("append_must_be_visible_in_footers",
          after.totalRows != before.totalRows + batch.count()),
        ("growth_must_fire_past_factor", !after.grown),
        ("growth_must_trigger_retrain", !after.shouldRetrain),
        ("imbalance_must_stay_silent", after.imbalanced),
        ("drift_must_stay_silent_in_dist", after.drifted))
        .filter(_._2).map(_._1).toDF("violation")
        .orderBy("violation")
    }),

    // The composed pipeline a curation pass actually ships, end to
    // end in ONE plan: language gate × quality floor → exact-dup
    // survivors (min id per normalized fingerprint) → per-source
    // token budget. Every stage is oracle'd on its own elsewhere;
    // this query pins the CROSS-STAGE composition to the same DuckDB
    // answer, because composition is where column/semantic drift
    // between engines actually bites.
    "pipe_end_to_end" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
      val kept = d.select(col("doc_id"), col("source"), col("text"),
          TextFunctions.langId(col("text")).as("lang_pred"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
      val surv = kept
        .withColumn("fp", TextFunctions.fingerprint(col("text")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("fp").orderBy("doc_id")))
        .filter(col("rk") === 1)
        .select("doc_id", "source", "text")
      graft.functions.Curation.tokenBudgetSample(
          surv, "source", "doc_id", "text", budget = 1000L)
        .orderBy("doc_id")
    }),

    // Token/char/word-length stats.
    "text_stats" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.subwordCount(col("text")).as("n_subwords"),
        TextFunctions.charCount(col("text")).as("n_chars"),
        round(TextFunctions.meanWordLength(col("text")), 4).as("mean_word_len"))
        .orderBy("doc_id")
    }),

    // Composite quality score.
    "text_quality" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // Marker-based language ID.
    "text_langid" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // End-to-end curation filter — the composition a training
    // pipeline actually ships: language gate × quality floor × token
    // bounds, emitting the surviving docs with their curation
    // features (all codegen'd column functions, one scan).
    "pipe_quality_filter" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_pred"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.5 &&
          col("n_tokens").between(5, 1000))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition signals: word/bigram repeat fractions
    // and the top-bigram mass share — the boilerplate/degenerate-
    // generation filters that run beside quality scoring.
    "text_repetition" -> ((s, dir) => {
      TextFunctions.repetitionSignals(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("id")
    }),

    // Deterministic stratified sample — the corpus-mixing operator:
    // per-source keep rates decided by a hash of the stable doc id,
    // reproducible at any scale/partitioning (sampling never uses
    // df.sample, whose seed is partition-dependent).
    "pipe_sample_mix" -> ((s, dir) => {
      Sampling.stratifiedSample(Tables.documents(s, dir), "source", "doc_id",
          mixRates, defaultRate = 0.1)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    }),

    // Temperature mixing at alpha = 0.5, target 200 rows: tail
    // sources keep a HIGHER fraction than head sources (the
    // n_s^alpha recipe), all deterministic from the id hash.
    "pipe_temperature_mix" -> ((s, dir) => {
      Sampling.temperatureSample(Tables.documents(s, dir), "source",
          "doc_id", alpha = 0.5, targetRows = 200L)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    }),

    // Mixing audit: per-source total/kept/realized-rate for the same
    // rate table — the drift report a mixing pass logs.
    "pipe_mix_stats" -> ((s, dir) => {
      Sampling.mixStats(Tables.documents(s, dir), "source", "doc_id",
          mixRates, defaultRate = 0.1)
        .orderBy("source")
    }),

    // Exact-verified heavy hitters (round 8): Misra-Gries candidates
    // (fixed memory per partition, any cardinality) + an exact
    // candidate-restricted recount that certifies its own top-k — or
    // falls back to the full aggregation when it cannot. The oracle
    // is the plain exact top-20, which the certified path must equal.
    "hh_top_tokens" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(TextFunctions.normWords(col("text"))).as("tok"))
      Sketches.heavyHitters(toks, "tok", k = 20, capacity = 2048)
        .select(col("key").as("token"), col("cnt"))
        .orderBy(desc("cnt"), asc("token"))
    }),

    // HLL distinct-count rollup (round 9): build the per-(day,
    // event_type) sketch index ONCE, then serve per-event_type
    // distinct users by MERGING sketches — the arbitrary-range
    // distinct query a 100 TB events table cannot afford to answer
    // with COUNT(DISTINCT) per ask (which shuffles the key universe
    // every time; the index merge touches KBs). The query emits the
    // EXACT counts (oracle-checkable) plus a within_bound flag that
    // compares the sketch-served estimate against exact IN-PLAN: HLL
    // is deterministic for fixed data, so a red flag is a real
    // accuracy regression, not flake. lgK=12 ⇒ rsd ≈ 1.04/√4096 ≈
    // 1.6%; the gate is 3·rsd ≈ 5% so a driver-side testdata
    // regeneration (a different random draw, not a plan change)
    // cannot flip it.
    "sketch_distinct_rollup" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
      val idx = Sketches.hllIndex(ev, "user_id",
        Seq("day", "event_type"), lgK = 12)
      val served = Sketches.hllRollup(idx, Seq("event_type"))
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("distinct_users"))
      exact.join(served, Seq("event_type"))
        .select(col("event_type"), col("distinct_users"),
          (abs(col("approx_distinct").cast("double") -
              col("distinct_users").cast("double")) <=
            col("distinct_users").cast("double") * 0.05)
            .as("within_bound"))
        .orderBy("event_type")
    }),

    // ε-approximate quantile coreset (round 9): the third custom
    // sketch leg (MG frequency / HLL cardinality / this
    // distribution). Per-partition sorted subsampling — NO shuffle;
    // the merged weighted coreset is (P+1)/ε-bounded and answers
    // any rank within ε·N by a PROVEN envelope, so `certified` is a
    // theorem check, not a tolerance: a false row is a bug. The
    // oracle compares the exact interpolated percentiles (the
    // cross-engine-computable half) and TRUE certificates.
    "sketch_quantiles" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir).select(col("l_extendedprice"))
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
      val cert = Sketches.certifiedQuantiles(li, "l_extendedprice",
        qs, eps = 0.01)
      // ONE percentile aggregate with the array form: separate
      // percentile(x, q) expressions each build their own
      // per-partition value map (measured 10.0 s vs 2.5 s for the
      // array form at sf0.1 — the quantile probe, OPTIMIZATION_r13.md
      // Retired diagnostics)
      val qsLit = qs.map(q => s"${q}D").mkString("array(", ", ", ")")
      val ex = li
        .agg(expr(s"percentile(l_extendedprice, $qsLit)").as("ps"))
        .select(qs.indices.map(i =>
          round(col("ps").getItem(i), 4).as(s"e$i")): _*)
        .head()
      val exact = qs.zipWithIndex
        .map { case (q, i) => (q, ex.getDouble(i)) }
        .toDF("q", "exact_value")
      cert.join(exact, Seq("q"))
        .select(col("q"), col("exact_value"), col("certified"))
        .orderBy("q")
    }),

    // GROUPED quantile coresets (round 9): per-key distribution
    // summaries in one pass — each key hash-repartitions to one
    // partition, its sorted run subsamples at stride t, so per-key
    // ranks answer within ±2t rows. Unlike the global sketch, the
    // per-key estimate IS deterministic (one partition per key, the
    // kept positions are order statistics), so the oracle
    // value-compares the ESTIMATES too, not just the certificates.
    "sketch_quantiles_grouped" -> ((s, dir) => {
      Sketches.groupedCertifiedQuantiles(
          Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice",
          qs = Seq(0.25, 0.5, 0.75), t = 500L)
        .select(col("k").as("l_returnflag"), col("q"),
          col("estimate"), col("certified"))
        .orderBy("l_returnflag", "q")
    }),

    // STREAMING quantile twin (round 10): the exact micro-batch fold
    // the foreachBatch writer runs, driven through four deterministic
    // batches with a cap small enough to FORCE compaction — the
    // family's distinctive contract is the CARRIED ±slack (per-batch
    // construction envelopes + each compaction's measured max merged
    // weight), because a stream cannot replay history to certify at
    // ingest. This query replays it: one exact pass re-counts every
    // served estimate's true rank interval in-plan. `within_slack` is
    // a theorem check (the envelopes compose additively), so a false
    // row is a bug, never flake; the exact percentiles give the
    // oracle its cross-engine half.
    "sketch_quantiles_stream" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamQuantile
      val li = graft.TransientCache.persist(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice")))
      val path = graft.Scratch.dir("graft_sqs")
        .toString
      (0 until 4).foreach { b =>
        StreamQuantile.applyBatch(
          li.filter(pmod(col("l_orderkey"), lit(4)) === b)
            .select("l_extendedprice"),
          "l_extendedprice", path, b.toLong, eps = 0.02, cap = 256)()
      }
      val (core, n, slack) = StreamQuantile.read(s, path)
      val qs = Seq(0.1, 0.5, 0.9)
      val ests = Sketches.coresetQuantiles(core.toArray, n, qs)
      val v = li.select(col("l_extendedprice").cast("double").as("v"))
      val qsLit = qs.map(q => s"${q}D").mkString("array(", ", ", ")")
      val aggCols = ests.zipWithIndex.flatMap { case ((_, est), i) =>
        Seq(sum(when(col("v") <= est, 1L).otherwise(0L)).as(s"le$i"),
          sum(when(col("v") < est, 1L).otherwise(0L)).as(s"lt$i"))
      } :+ expr(s"percentile(v, $qsLit)").as("ps")
      val row = v.agg(aggCols.head, aggCols.tail: _*).head()
      val ps = row.getAs[scala.collection.Seq[Double]]("ps")
      ests.zipWithIndex.map { case ((q, _), i) =>
        val le = row.getLong(2 * i)
        val lt = row.getLong(2 * i + 1)
        val target = math.max(1L, math.ceil(q * n).toLong)
        (q, ps(i), n,
          le >= target - slack && lt <= target + slack)
      }.toDF("q", "exact_value", "n", "within_slack")
        .select(col("q"), round(col("exact_value"), 4).as("exact_value"),
          col("n"), col("within_slack"))
        .orderBy("q")
    }),

    // Corpus vocabulary stats: global top-20 bigrams by occurrence
    // (deterministic tiebreak on the gram), with document frequency —
    // the first report of any corpus-analysis pass. Two chained
    // aggregates + TakeOrdered; at 100 TB the same plan holds
    // (top-k never materializes the full vocabulary on one node).
    "text_top_ngrams" -> ((s, dir) => {
      val bi = TextFunctions.shingleRows(Tables.documents(s, dir),
        "doc_id", "text", 2)
      val counts = bi.groupBy("s")
        .agg(count(lit(1)).as("occurrences"),
          count_distinct(col("id")).as("doc_freq"))
      // top-k FIRST (TakeOrderedAndProject — per-partition heaps,
      // never a global sort or single-partition window over the
      // whole vocabulary), then rank the 20 survivors.
      val top = counts
        .orderBy(col("occurrences").desc, col("s").asc).limit(20)
      top.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(
            col("occurrences").desc, col("s").asc)))
        .select(col("rank"), col("s").as("ngram"),
          col("occurrences"), col("doc_freq"))
        .orderBy("rank")
    }),

    // Sketch error bounds — the approximate operators a 100 TB stats
    // pass actually runs (exact distinct/quantiles don't fit), each
    // checked against its exact answer at test scale. Rows are
    // tolerance VIOLATIONS: approx_count_distinct beyond 5% relative
    // error, approx median outside the exact 40th-60th percentile
    // band. Expected (and oracle'd) empty.
    "stats_sketch_bounds" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val fp = d.select(TextFunctions.fingerprint(col("text")).as("fp"),
        col("n_chars"))
      val agg = fp.agg(
        approx_count_distinct(col("fp")).as("approx_nd"),
        count_distinct(col("fp")).as("exact_nd"),
        percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("approx_med"),
        expr("percentile(n_chars, 0.4)").as("p40"),
        expr("percentile(n_chars, 0.6)").as("p60"))
      val ndViolation = agg
        .filter(abs(col("approx_nd") - col("exact_nd")).cast("double")
          > col("exact_nd").cast("double") * 0.05)
        .select(lit("approx_count_distinct").as("metric"),
          col("approx_nd").cast("double").as("approx_value"),
          col("exact_nd").cast("double").as("exact_value"))
      val medViolation = agg
        .filter(col("approx_med") < col("p40") || col("approx_med") > col("p60"))
        .select(lit("approx_median").as("metric"),
          col("approx_med").cast("double").as("approx_value"),
          col("p40").cast("double").as("exact_value"))
      ndViolation.unionByName(medViolation)
    }),

    // Fingerprint injectivity: distinct fingerprints == distinct
    // normalized texts.
    "text_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(TextFunctions.fingerprint(col("text")).as("fp"))
        .agg(count_distinct(col("fp")).as("distinct_docs"))
    }),

    // Multimodal: binary payload column → batched stub decode →
    // typed metadata (real plumbing, fake codec).
    "mm_decode_meta" -> ((s, dir) => {
      val withBin = Tables.documents(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.decodeMeta(withBin, "doc_id", "payload")
        .orderBy("id")
    }),

    // Audio-metadata decode over opaque binary payloads: real WAV
    // (RIFF) headers parse exactly (byte-level spec in PipelineSpec);
    // the synthetic text payloads take the deterministic stub, whose
    // integer arithmetic the oracle mirrors — pinning the schema,
    // null handling, and derived-field math of the audio path.
    // Video metadata over binary payloads — completes the
    // image/audio/video triple: real ISO-BMFF (MP4) box-walk parse
    // for container payloads (PipelineSpec pins ftyp/mvhd v0+v1/trak
    // counting on hand-built boxes), deterministic stub for the
    // synthetic text-bytes corpus here, oracle pins the stub
    // arithmetic + the Spark-side plumbing.
    "mm_video_meta" -> ((s, dir) => {
      val withBin = Tables.documents(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.decodeVideoMeta(withBin, "doc_id", "payload")
        .orderBy("id")
    }),

    "mm_audio_meta" -> ((s, dir) => {
      val withBin = Tables.documents(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.decodeAudioMeta(withBin, "doc_id", "payload")
        .orderBy("id")
    }),

    // Multimodal frame sampling: every 2nd 256-byte frame of each
    // payload becomes a row — the 1→N expansion of a video pipeline,
    // per-partition flatMap, deterministic from payload length.
    "mm_frame_sample" -> ((s, dir) => {
      val withBin = Tables.documents(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.frameSample(withBin, "doc_id", "payload",
        stride = 2, frameBytes = 256)
        .orderBy("id", "frame_idx")
    })
  )

  /** Per-(JVM, sfDir) scratch roots for the index-building queries —
    * bounded at one index tree per (query, dataset): writeIvfIndex
    * overwrites the tree, so repeat runs (bench min-of-2 passes,
    * verify, plan lint) rewrite in place instead of leaking a full
    * corpus copy into /tmp per invocation.
    */
  private def scratchRoot(
      cache: java.util.concurrent.ConcurrentHashMap[String, String],
      prefix: String, dir: String): String =
    cache.computeIfAbsent(dir, _ =>
      graft.Scratch.dir(prefix).toString)

  private val ivfIncDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val ivfRefreshDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[operators] val normText = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** The mixing rate table as a SQL CASE yielding the per-row keep
    * threshold in 1/10000ths — must mirror `mixRates` + the 0.1
    * default exactly.
    */
  private val mixThresholdSql: String = {
    val cases = mixRates.toSeq.sortBy(_._1).map { case (k, r) =>
      s"WHEN source = '$k' THEN ${(r * Sampling.Denominator).toLong}"
    }.mkString(" ")
    s"(CASE $cases ELSE ${(0.1 * Sampling.Denominator).toLong} END)"
  }

  private[operators] val qualitySql: String =
    """WITH c AS (
         SELECT doc_id,
           LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
           CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) > 0
             THEN CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x IN ('the','a','an','and','or','of','to','in','is','it',
                          'that','was','for','on','with','as','at','by'))) AS DOUBLE)
               / CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE)
             ELSE 0.0 END AS stop_ratio,
           CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio,
           CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS upper_ratio
         FROM documents)
       SELECT doc_id,
         ROUND(len_score * 0.3 + LEAST(stop_ratio * 4.0, 1.0) * 0.3
           + GREATEST(0.0, 1.0 - punct_ratio * 5.0) * 0.2
           + GREATEST(0.0, 1.0 - upper_ratio * 3.0) * 0.2, 6) AS quality
       FROM c"""

  private val langidSql: String =
    """WITH s AS (
         SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
       sc AS (
         SELECT doc_id,
           (CASE WHEN contains(p, ' der ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' die ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' und ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' das ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' ist ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' nicht ') THEN 1 ELSE 0 END) AS s_de,
           (CASE WHEN contains(p, ' the ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' and ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' of ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' to ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' is ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' that ') THEN 1 ELSE 0 END) AS s_en,
           (CASE WHEN contains(p, ' el ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' la ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' de ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' que ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' los ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' es ') THEN 1 ELSE 0 END) AS s_es,
           (CASE WHEN contains(p, ' le ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' la ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' et ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' les ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' des ') THEN 1 ELSE 0 END +
            CASE WHEN contains(p, ' est ') THEN 1 ELSE 0 END) AS s_fr
         FROM s)
       SELECT doc_id,
         CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
              WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr) THEN 'de'
              WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
              WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
              ELSE 'fr' END AS lang_pred
       FROM sc"""


  private val cosExpr: String =
    """list_sum(list_transform(range(1, len(cv)+1),
         i -> CAST(cv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
       / (SQRT(list_sum(list_transform(range(1, len(cv)+1),
            i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))
        * SQRT(list_sum(list_transform(range(1, len(qv)+1),
            i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))))"""

  /** Exact bigram-set Jaccard pairs ≥ threshold, with the same
    * df-cap semantics as Dedup.ngramJaccardPairs (shingles with
    * document frequency > maxDf removed from every set; sizes
    * recomputed on the trimmed sets). Shared by the ngram, minhash
    * and simhash oracles — the latter two are exact-verified, so
    * their output IS the exact answer.
    */
  private def bigramJaccardSql(threshold: Double, maxDf: Int): String =
    s"""WITH t AS (
          SELECT doc_id, list_distinct(
            CASE WHEN len(w) >= 2
              THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
              ELSE [array_to_string(w, ' ')] END) AS bg
          FROM (SELECT doc_id, string_split($normText, ' ') AS w FROM documents)),
        ex0 AS (SELECT doc_id, unnest(bg) AS s FROM t),
        dfreq AS (SELECT s, COUNT(*) AS df FROM ex0 GROUP BY s),
        ex AS (SELECT doc_id, ex0.s FROM ex0 JOIN dfreq ON ex0.s = dfreq.s
               WHERE dfreq.df <= $maxDf),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
        j AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
        SELECT ida, idb,
               ROUND(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
        FROM j JOIN sz na ON j.ida = na.doc_id JOIN sz nb ON j.idb = nb.doc_id
        WHERE ROUND(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) >= $threshold
        ORDER BY ida, idb"""

  /** Shared decontamination oracle: distinct 5-gram overlap counts of
    * corpus docs (doc_id >= 10) against the bench slice (doc_id < 10).
    * `list_distinct` + COUNT(*) counts DISTINCT matched grams per doc
    * — the same contract as the Scala side's count_distinct on the
    * gram hash. Both the exact-broadcast and the Bloom-pre-filtered
    * branches must produce exactly this.
    */
  private val decontaminateSql: String =
    s"""WITH t AS (
          SELECT doc_id, list_distinct(
            CASE WHEN len(w) >= 5
              THEN list_transform(range(1, len(w) - 3),
                i -> array_to_string(w[i:i+4], ' '))
              ELSE [array_to_string(w, ' ')] END) AS gs
          FROM (SELECT doc_id, string_split($normText, ' ') AS w FROM documents)),
        ex AS (SELECT doc_id, unnest(gs) AS s FROM t),
        bench AS (SELECT DISTINCT s FROM ex WHERE doc_id < 10)
        SELECT ex.doc_id AS id, COUNT(*) AS n_hits
        FROM ex JOIN bench ON ex.s = bench.s
        WHERE ex.doc_id >= 10
        GROUP BY 1 ORDER BY id"""

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      s"""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
          FROM documents GROUP BY $normText ORDER BY doc_id""",
    // strip: spans → keep-rank per exact span text (DuckDB groups by
    // the text itself; the Scala side by its xxhash64 — identical
    // groups modulo 2⁻⁶⁴) → token anti-join → ordered rebuild
    "dedup_span_strip" ->
      s"""WITH t AS (SELECT doc_id, string_split($normText, ' ') AS w
                     FROM documents),
          g AS (SELECT t.doc_id, r.i - 1 AS pos,
                       array_to_string(w[r.i:r.i+4], ' ') AS s
                FROM t, UNNEST(range(1, len(w) - 3)) AS r(i)
                WHERE len(w) >= 5),
          dup AS (SELECT s FROM g GROUP BY s
                  HAVING COUNT(DISTINCT doc_id) >= 2),
          h AS (SELECT doc_id, pos FROM g JOIN dup USING (s)),
          isl AS (SELECT doc_id, pos,
                   CASE WHEN pos > COALESCE(MAX(pos + 4) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     -2) + 1 THEN 1 ELSE 0 END AS brk FROM h),
          sp AS (SELECT doc_id, pos, SUM(brk) OVER (
                   PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
          spans AS (SELECT doc_id, MIN(pos) AS s0, MAX(pos) + 4 AS e0
                    FROM sp GROUP BY doc_id, island),
          sptext AS (SELECT sp2.doc_id, s0, e0,
                       array_to_string(w[s0+1:e0+1], ' ') AS stext
                     FROM spans sp2 JOIN t USING (doc_id)),
          keep AS (SELECT doc_id, s0, e0, ROW_NUMBER() OVER (
                     PARTITION BY stext ORDER BY doc_id, s0) AS rk
                   FROM sptext),
          cuts AS (SELECT doc_id, s0, e0 FROM keep WHERE rk > 1),
          toks AS (SELECT t2.doc_id, r.i - 1 AS pos, w[r.i] AS tok
                   FROM t t2, UNNEST(range(1, len(w) + 1)) AS r(i)),
          keptToks AS (SELECT tk.doc_id, tk.pos, tk.tok FROM toks tk
                       WHERE NOT EXISTS (SELECT 1 FROM cuts c
                         WHERE c.doc_id = tk.doc_id
                           AND tk.pos BETWEEN c.s0 AND c.e0)),
          res AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
                  FROM keptToks GROUP BY doc_id)
          SELECT t.doc_id, COALESCE(res.text, '') AS text
          FROM t LEFT JOIN res USING (doc_id)
          WHERE COALESCE(res.text, '') <> array_to_string(w, ' ')
          ORDER BY t.doc_id""",
    // incremental span dedup: batch grams ∩ corpus gram set →
    // islands, 0-based positions (r.i - 1) to match posexplode
    "dedup_span_increment" ->
      s"""WITH t AS (SELECT doc_id, string_split($normText, ' ') AS w
                     FROM documents),
          g AS (SELECT t.doc_id, r.i - 1 AS pos,
                       array_to_string(w[r.i:r.i+4], ' ') AS s
                FROM t, UNNEST(range(1, len(w) - 3)) AS r(i)
                WHERE len(w) >= 5),
          idx AS (SELECT DISTINCT s FROM g WHERE doc_id % 10 <> 0),
          h AS (SELECT doc_id, pos FROM g
                WHERE doc_id % 10 = 0 AND s IN (SELECT s FROM idx)),
          isl AS (SELECT doc_id, pos,
                   CASE WHEN pos > COALESCE(MAX(pos + 4) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     -2) + 1 THEN 1 ELSE 0 END AS brk FROM h),
          sp AS (SELECT doc_id, pos, SUM(brk) OVER (
                   PARTITION BY doc_id ORDER BY pos) AS island FROM isl)
          SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
                 MAX(pos) + 4 - MIN(pos) + 1 AS span_tokens
          FROM sp GROUP BY doc_id, island
          ORDER BY doc_id, span_start""",
    // exact substring dedup: the same grams → ≥2-doc filter →
    // gaps-and-islands interval union, on gram STRINGS (the Scala
    // side joins on xxhash64 of the same strings); positions
    // 0-based (r.i - 1) like every span oracle — the stats outputs
    // are shift-invariant, but the convention must not fork
    "dedup_span_exact" ->
      s"""WITH t AS (SELECT doc_id, string_split($normText, ' ') AS w
                     FROM documents),
          g AS (SELECT t.doc_id, r.i - 1 AS pos,
                       array_to_string(w[r.i:r.i+4], ' ') AS s
                FROM t, UNNEST(range(1, len(w) - 3)) AS r(i)
                WHERE len(w) >= 5),
          dup AS (SELECT s FROM g GROUP BY s
                  HAVING COUNT(DISTINCT doc_id) >= 2),
          h AS (SELECT doc_id, pos FROM g JOIN dup USING (s)),
          isl AS (SELECT doc_id, pos,
                   CASE WHEN pos > COALESCE(MAX(pos + 4) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     -2) + 1 THEN 1 ELSE 0 END AS brk FROM h),
          sp AS (SELECT doc_id, pos, SUM(brk) OVER (
                   PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
          agg AS (SELECT doc_id, island, MIN(pos) AS s0, MAX(pos) + 4 AS e0
                  FROM sp GROUP BY 1, 2),
          ntok AS (SELECT doc_id, len(w) AS n FROM t)
          SELECT a.doc_id, COUNT(*) AS n_dup_spans,
                 CAST(SUM(e0 - s0 + 1) AS BIGINT) AS dup_tokens,
                 ROUND(CAST(SUM(e0 - s0 + 1) AS DOUBLE) / ANY_VALUE(n.n), 4)
                   AS dup_frac
          FROM agg a JOIN ntok n ON a.doc_id = n.doc_id
          GROUP BY 1 ORDER BY 1""",
    // fixpoint violation query: the stripped corpus must contain NO
    // cross-doc duplicated 5-gram at all — typed-empty oracle, same
    // house style as the recall floors. (A DuckDB value oracle would
    // need the full strip SQL unrolled once per round; the property
    // the fixpoint exists to guarantee IS this empty set.)
    "dedup_span_fixpoint" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id,
                CAST(NULL AS BIGINT) AS span_start,
                CAST(NULL AS BIGINT) AS span_end,
                CAST(NULL AS BIGINT) AS span_tokens
         WHERE FALSE""",
    "dedup_ngram_jaccard" -> bigramJaccardSql(0.3, 5000),
    "dedup_ngram_jaccard_prefix" -> bigramJaccardSql(0.8, 5000),
    // Exact-verified operators: LSH/simhash candidate generation has
    // (deterministically) full recall on this corpus, so the exact
    // Jaccard answer is the whole output — see the queries() notes.
    "dedup_minhash_lsh" -> bigramJaccardSql(0.8, Int.MaxValue),
    "dedup_simhash" -> bigramJaccardSql(0.8, Int.MaxValue),
    "dedup_simhash_complete" ->
      """SELECT CAST(NULL AS BIGINT) AS ida, CAST(NULL AS BIGINT) AS idb,
                CAST(NULL AS INTEGER) AS hamming
         WHERE FALSE""",
    // violation query: bucketed new-vs-index == brute cross scan
    "dedup_simhash_increment" ->
      """SELECT CAST(NULL AS BIGINT) AS ida, CAST(NULL AS BIGINT) AS idb,
                CAST(NULL AS INTEGER) AS hamming
         WHERE FALSE""",
    // exact cross-boundary trigram Jaccard ≥ 0.8: index docs
    // (doc_id % 10 <> 0) × batch docs (doc_id % 10 = 0)
    "dedup_ngram_increment" ->
      s"""WITH t AS (
            SELECT doc_id, list_distinct(
              CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                ELSE [array_to_string(w, ' ')] END) AS gs
            FROM (SELECT doc_id, string_split($normText, ' ') AS w FROM documents)),
          ex AS (SELECT doc_id, unnest(gs) AS s FROM t),
          sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1),
          corp AS (SELECT * FROM ex WHERE doc_id % 10 <> 0),
          nw AS (SELECT * FROM ex WHERE doc_id % 10 = 0),
          j AS (SELECT c.doc_id AS ida, n2.doc_id AS idb, COUNT(*) AS inter
                FROM corp c JOIN nw n2 ON c.s = n2.s GROUP BY 1, 2)
          SELECT ida, idb,
                 ROUND(CAST(inter AS DOUBLE) / (a.n + b.n - inter), 4) AS jaccard
          FROM j JOIN sz a ON j.ida = a.doc_id JOIN sz b ON j.idb = b.doc_id
          WHERE ROUND(CAST(inter AS DOUBLE) / (a.n + b.n - inter), 4) >= 0.8
          ORDER BY ida, idb""",
    // Transitive closure of the exact j>=0.8 pair graph; component
    // label = min reachable id — the same clusters the CC computes.
    "dedup_cluster_resolve" ->
      s"""WITH RECURSIVE t AS (
            SELECT doc_id, list_distinct(
              CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                ELSE [array_to_string(w, ' ')] END) AS bg
            FROM (SELECT doc_id, string_split($normText, ' ') AS w FROM documents)),
          ex AS (SELECT doc_id, len(bg) AS n, unnest(bg) AS s FROM t),
          j AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter,
                       FIRST(a.n) AS na, FIRST(b.n) AS nb
                FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
          p AS (SELECT ida, idb FROM j
                WHERE ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.8),
          e AS (SELECT ida AS a, idb AS b FROM p
                UNION SELECT idb, ida FROM p),
          reach(a, b) AS (
            SELECT a, b FROM e
            UNION
            SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
          canon AS (SELECT a AS id, LEAST(a, MIN(b)) AS canonical_id
                    FROM reach GROUP BY a)
          SELECT d.doc_id AS id,
                 COALESCE(c.canonical_id, d.doc_id) AS canonical_id
          FROM documents d LEFT JOIN canon c ON d.doc_id = c.id
          ORDER BY id""",
    "pipe_decontaminate" -> decontaminateSql,
    // identical result contract: the Bloom branch only pre-filters,
    // the exact verify join restores set semantics
    "pipe_decontaminate_bloom" -> decontaminateSql,
    "ann_lsh_recall" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS found
         WHERE FALSE""",
    // violation oracle: the Spark side emits soundness violations
    // against the independent exact pair scan; green = zero
    "dedup_semantic" ->
      """SELECT CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS VARCHAR) AS kind
         WHERE FALSE""",
    "ann_pq_recall" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS found
         WHERE FALSE""",
    "dedup_embedding_lsh_recall" ->
      """SELECT CAST(NULL AS BIGINT) AS found, CAST(NULL AS BIGINT) AS total
         WHERE FALSE""",
    "ann_ivf_recall" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS found
         WHERE FALSE""",
    "ann_ivf_increment" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS found
         WHERE FALSE""",
    "ann_ivf_refresh" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation WHERE FALSE""",
    "dedup_embedding" ->
      s"""WITH p AS (
            SELECT a.vec_id AS ida, b.vec_id AS idb,
                   a.embedding AS cv, b.embedding AS qv
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
          SELECT ida, idb, ROUND($cosExpr, 6) AS cosine
          FROM p WHERE ROUND($cosExpr, 6) >= 0.4
          ORDER BY ida, idb""",
    "ann_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                     FROM embeddings WHERE vec_id < 10),
          c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
          sc AS (SELECT query_id, corpus_id, ROUND($cosExpr, 4) AS cosine
                 FROM c CROSS JOIN q WHERE corpus_id <> query_id),
          r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, corpus_id ASC) AS INTEGER) AS rank
                FROM sc)
          SELECT query_id, corpus_id, cosine, rank FROM r
          WHERE rank <= 10 ORDER BY query_id, rank""",
    "text_stats" ->
      """SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|\d|[^\sA-Za-z\d]')) AS INTEGER) AS n_subwords,
           CAST(length(text) AS INTEGER) AS n_chars,
           ROUND(CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                 w -> length(w))) AS DOUBLE)
             / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 4)
             AS mean_word_len
         FROM documents ORDER BY doc_id""",
    "text_quality" -> (qualitySql + " ORDER BY doc_id"),
    "text_langid" -> (langidSql + " ORDER BY doc_id"),
    "pipe_quality_filter" ->
      s"""SELECT q.doc_id, l.lang_pred, q.quality, tk.n_tokens
          FROM ($qualitySql) q
          JOIN ($langidSql) l ON q.doc_id = l.doc_id
          JOIN (SELECT doc_id,
                  CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
                    AS n_tokens FROM documents) tk ON q.doc_id = tk.doc_id
          WHERE l.lang_pred = 'en' AND q.quality >= 0.5
            AND tk.n_tokens BETWEEN 5 AND 1000
          ORDER BY q.doc_id""",
    "pipe_end_to_end" ->
      s"""WITH q AS ($qualitySql), l AS ($langidSql),
          keep AS (SELECT d.doc_id, d.source, d.text
                   FROM documents d
                   JOIN q ON d.doc_id = q.doc_id
                   JOIN l ON d.doc_id = l.doc_id
                   WHERE l.lang_pred = 'en' AND q.quality >= 0.5),
          rk AS (SELECT doc_id, source, text,
                   ROW_NUMBER() OVER (PARTITION BY $normText
                     ORDER BY doc_id) AS rk
                 FROM keep),
          surv AS (SELECT doc_id, source, text FROM rk WHERE rk = 1),
          t AS (SELECT doc_id, source,
                  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                    AS n_tokens,
                  ((doc_id % 1000000007) * 2654435761) % 1000000007 AS h
                FROM surv),
          c AS (SELECT doc_id, source AS stratum, n_tokens,
                  CAST(SUM(n_tokens) OVER (PARTITION BY source
                    ORDER BY h ASC, doc_id ASC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                FROM t)
          SELECT doc_id, stratum, n_tokens, cum_tokens FROM c
          WHERE cum_tokens <= 1000 ORDER BY doc_id""",
    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, string_split($normText, ' ') AS w
                     FROM documents),
          ws AS (SELECT doc_id, len(w) AS nw, len(list_distinct(w)) AS dw
                 FROM t),
          bg AS (SELECT doc_id,
                   CASE WHEN len(w) >= 2
                     THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                     ELSE [array_to_string(w, ' ')] END AS b
                 FROM t),
          bc AS (SELECT doc_id, s, COUNT(*) AS c
                 FROM (SELECT doc_id, unnest(b) AS s FROM bg) GROUP BY 1, 2),
          bs AS (SELECT doc_id, SUM(c) AS nb, COUNT(*) AS db, MAX(c) AS topc
                 FROM bc GROUP BY 1)
          SELECT ws.doc_id AS id, CAST(nw AS BIGINT) AS n_words,
                 ROUND(1.0 - CAST(dw AS DOUBLE) / nw, 4) AS dup_word_frac,
                 ROUND(1.0 - CAST(db AS DOUBLE) / nb, 4) AS dup_bigram_frac,
                 ROUND(CAST(topc AS DOUBLE) / nb, 4) AS top_bigram_frac
          FROM ws JOIN bs ON ws.doc_id = bs.doc_id
          ORDER BY id""",
    "pipe_sample_mix" ->
      s"""SELECT doc_id, source, lang FROM documents
          WHERE ((doc_id % 1000000007) * 2654435761) % 10000 < $mixThresholdSql
          ORDER BY doc_id""",
    "pipe_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
         w AS (SELECT source, n, POW(n, 0.5) AS wgt FROM c),
         ws AS (SELECT SUM(wgt) AS wsum FROM w),
         r AS (SELECT source,
                 CAST(FLOOR(LEAST(1.0,
                   ROUND(200.0 * wgt / wsum / n, 6)) * 10000) AS BIGINT) AS thr
               FROM w CROSS JOIN ws)
         SELECT d.doc_id, d.source, d.lang
         FROM documents d JOIN r ON d.source = r.source
         WHERE ((d.doc_id % 1000000007) * 2654435761) % 10000 < r.thr
         ORDER BY d.doc_id""",
    "pipe_mix_stats" ->
      s"""SELECT source, COUNT(*) AS n_total,
                 CAST(COUNT(*) FILTER (WHERE
                   ((doc_id % 1000000007) * 2654435761) % 10000 < $mixThresholdSql)
                   AS BIGINT) AS n_kept,
                 ROUND(CAST(COUNT(*) FILTER (WHERE
                     ((doc_id % 1000000007) * 2654435761) % 10000 < $mixThresholdSql)
                   AS DOUBLE) / COUNT(*), 4) AS realized_rate
          FROM documents GROUP BY source ORDER BY source""",
    "hh_top_tokens" ->
      s"""WITH w AS (SELECT unnest(string_split($normText, ' ')) AS token
                     FROM documents)
          SELECT token, COUNT(*) AS cnt FROM w GROUP BY token
          ORDER BY cnt DESC, token ASC LIMIT 20""",
    // exact interpolated percentiles (quantile_cont ≡ Spark
    // percentile, the a10 parity); TRUE asserts the coreset
    // estimate's exact rank landed inside the proven (P+1)·t ≤ ε·N
    // envelope — a theorem check, so red is a bug, never flake
    "sketch_quantiles" ->
      """WITH e AS (SELECT
              quantile_cont(l_extendedprice, 0.10) AS q10,
              quantile_cont(l_extendedprice, 0.25) AS q25,
              quantile_cont(l_extendedprice, 0.50) AS q50,
              quantile_cont(l_extendedprice, 0.75) AS q75,
              quantile_cont(l_extendedprice, 0.90) AS q90
            FROM lineitem)
         SELECT CAST(0.10 AS DOUBLE) AS q, ROUND(q10, 4) AS exact_value,
                TRUE AS certified FROM e
         UNION ALL
         SELECT 0.25, ROUND(q25, 4), TRUE FROM e
         UNION ALL
         SELECT 0.50, ROUND(q50, 4), TRUE FROM e
         UNION ALL
         SELECT 0.75, ROUND(q75, 4), TRUE FROM e
         UNION ALL
         SELECT 0.90, ROUND(q90, 4), TRUE FROM e
         ORDER BY q""",
    // streaming twin mirror: exact percentiles + n; TRUE asserts the
    // carried slack bound held against the exact in-plan recount
    "sketch_quantiles_stream" ->
      """WITH e AS (SELECT
              quantile_cont(l_extendedprice, 0.10) AS q10,
              quantile_cont(l_extendedprice, 0.50) AS q50,
              quantile_cont(l_extendedprice, 0.90) AS q90,
              COUNT(*) AS n
            FROM lineitem)
         SELECT CAST(0.10 AS DOUBLE) AS q, ROUND(q10, 4) AS exact_value, n,
                TRUE AS within_slack FROM e
         UNION ALL
         SELECT 0.50, ROUND(q50, 4), n, TRUE FROM e
         UNION ALL
         SELECT 0.90, ROUND(q90, 4), n, TRUE FROM e
         ORDER BY q""",
    // grouped coreset mirror: the per-key estimate is the order
    // statistic at the target rank rounded UP to the stride (or the
    // run's last position) — kept coreset positions are t, 2t, …, m,
    // so "smallest kept value with cumulative weight >= target" is
    // exactly the value at position min(ceil(target/t)*t, m)
    "sketch_quantiles_grouped" ->
      """WITH vr AS (SELECT l_returnflag AS k,
                CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
          r AS (SELECT k, v,
                  ROW_NUMBER() OVER (PARTITION BY k ORDER BY v) AS rn,
                  COUNT(*) OVER (PARTITION BY k) AS m FROM vr),
          km AS (SELECT DISTINCT k, m FROM r),
          qs(q) AS (VALUES (0.25), (0.5), (0.75)),
          tgt AS (SELECT km.k, km.m, qs.q,
                    GREATEST(1, CAST(CEIL(km.m * qs.q) AS BIGINT))
                      AS target
                  FROM km, qs),
          pick AS (SELECT k, q,
                     LEAST(CAST(CEIL(target * 1.0 / 500) * 500 AS BIGINT),
                           m) AS pos
                   FROM tgt)
          SELECT p.k AS l_returnflag, CAST(p.q AS DOUBLE) AS q, r.v AS estimate,
                 TRUE AS certified
          FROM pick p JOIN r ON r.k = p.k AND r.rn = p.pos
          ORDER BY l_returnflag, q""",
    // exact distinct counts; TRUE asserts the Spark side's in-plan
    // estimate-vs-exact 3·rsd gate held (HLL is deterministic, so a
    // mismatch is a genuine accuracy regression)
    "sketch_distinct_rollup" ->
      """SELECT event_type,
                COUNT(DISTINCT user_id) AS distinct_users,
                TRUE AS within_bound
         FROM events GROUP BY event_type ORDER BY event_type""",
    "text_top_ngrams" ->
      s"""WITH t AS (SELECT doc_id, string_split($normText, ' ') AS w
                     FROM documents),
          bg AS (SELECT doc_id,
                   CASE WHEN len(w) >= 2
                     THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                     ELSE [array_to_string(w, ' ')] END AS b
                 FROM t),
          ex AS (SELECT doc_id, unnest(b) AS s FROM bg),
          c AS (SELECT s, COUNT(*) AS occurrences,
                       COUNT(DISTINCT doc_id) AS doc_freq
                FROM ex GROUP BY s),
          r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY occurrences DESC, s ASC)
                         AS INTEGER) AS rank,
                       s AS ngram, occurrences, doc_freq
                FROM c)
          SELECT rank, ngram, CAST(occurrences AS BIGINT) AS occurrences,
                 CAST(doc_freq AS BIGINT) AS doc_freq
          FROM r WHERE rank <= 20 ORDER BY rank""",
    "stats_sketch_bounds" ->
      """SELECT CAST(NULL AS VARCHAR) AS metric,
                CAST(NULL AS DOUBLE) AS approx_value,
                CAST(NULL AS DOUBLE) AS exact_value
         WHERE FALSE""",
    "text_fingerprint" ->
      s"SELECT COUNT(DISTINCT $normText) AS distinct_docs FROM documents",
    "mm_frame_sample" ->
      """WITH d AS (SELECT doc_id, strlen(text) AS len FROM documents),
         f AS (SELECT doc_id, len,
                 unnest(range(0, CAST(ceil(len / 256.0) AS BIGINT), 2)) AS i
               FROM d)
         SELECT doc_id AS id, CAST(i AS INTEGER) AS frame_idx,
                i * 256 AS frame_offset,
                CAST(LEAST(256, len - i * 256) AS INTEGER) AS n_bytes
         FROM f ORDER BY id, frame_idx""",
    "mm_decode_meta" ->
      """SELECT doc_id AS id,
           CAST(32 + strlen(text) % 32 AS INTEGER) AS width,
           CAST(32 + (strlen(text) // 32) % 32 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(strlen(text) AS BIGINT) AS n_bytes
         FROM documents ORDER BY id""",
    "mm_video_meta" ->
      """WITH d AS (SELECT doc_id, strlen(text) AS n FROM documents),
         s AS (SELECT doc_id, n, 600 + (n % 5) * 300 AS ts FROM d)
         SELECT doc_id AS id, 'stub' AS brand,
                CAST(ts AS BIGINT) AS timescale,
                CAST((n * 4 * 1000) // ts AS BIGINT) AS duration_ms,
                CAST(1 + n % 3 AS INTEGER) AS traks,
                CAST(n AS BIGINT) AS n_bytes
         FROM s ORDER BY id""",
    "mm_audio_meta" ->
      """WITH d AS (SELECT doc_id, strlen(text) AS n FROM documents),
         s AS (SELECT doc_id, n,
                 8000 + (n % 8) * 1000 AS rate,
                 1 + n % 2 AS ch
               FROM d),
         t AS (SELECT doc_id, n, rate, ch, n // (ch * 2) AS n_samples
               FROM s)
         SELECT doc_id AS id,
                CAST(rate AS INTEGER) AS sample_rate,
                CAST(ch AS INTEGER) AS channels,
                CAST(16 AS INTEGER) AS bits_per_sample,
                CAST(n_samples AS BIGINT) AS n_samples,
                CAST((n_samples * 1000) // rate AS BIGINT) AS duration_ms,
                CAST(n AS BIGINT) AS n_bytes
         FROM t ORDER BY id"""
  )
}
