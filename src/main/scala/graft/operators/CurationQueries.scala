package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Curation, Dedup, EmbeddingOps, TextFunctions}
import graft.sources.Tables

/** Curation / embedding-maintenance query pack (round 4): per-domain
  * selection, keyword extraction, sequence packing, pattern scrubbing,
  * funnel attribution, and the embedding-column maintenance passes.
  * Every query has a DuckDB value oracle.
  */
object CurationQueries {

  /** Redaction classes for `pipe_redact`. PII regexes (emails, phone
    * numbers) find nothing in the synthetic word-soup corpus, which
    * would make the oracle vacuous — these two lexical classes
    * exercise the same operator (sequential global regexp scrub +
    * per-class match counts) with real signal. Fold order matters and
    * the oracle mirrors it.
    */
  private val redactClasses: Seq[(String, String)] = Seq(
    "spanword" -> "\\bsp[a-z]+\\b", // words starting 'sp'
    "longword" -> "\\b[a-z]{6,}\\b" // 6+ letter lowercase words
  )

  /** The deterministic corpus split every drift query compares
    * (sources src0-9 vs src10-19 standing in for consecutive crawl
    * snapshots), as ONE side-tagged frame: `__sa` = true for the old
    * snapshot. One frame instead of two filtered halves so the drift
    * profiles build in a single corpus scan ([[Curation.corpusDriftJoint]]).
    *
    * The snapshot number is substring arithmetic on the literal 'src'
    * prefix, not `regexp_extract`: sources are 'src<N>' by the corpus
    * contract, so `substr(source, 4)` is the same integer on any
    * engine, with no regex engine involved. The null-guard filter
    * keeps the two-filter semantics
    * (a hypothetical non-numeric source lands in NEITHER snapshot)
    * bit-identical.
    */
  private def driftSide(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val sn = substring(col("source"), 4, 10).cast("int")
    d.filter(sn.isNotNull)
      .select(col("doc_id"), col("text"), (sn < 10).as("__sa"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Keep the best 20 docs per source by quality score — the
    // per-domain curation cut.
    "pipe_domain_topk" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val scored = d.select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      Curation.domainTopK(scored, "source", "doc_id", "quality", 20)
        .select(col("source"), col("rank"), col("doc_id"), col("quality"))
        .orderBy("source", "rank")
    }),

    // DSIR importance resampling: keep the 50 docs whose
    // hashed-bigram profile is most target-like, target = the
    // English docs of sources src1-src5 (standing in for the
    // trusted corpus). Full value oracle: md5 bucketing, Laplace
    // smoothing and the log-ratio sum are all ANSI-expressible.
    "pipe_dsir" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val target = d.filter(col("lang") === "en" &&
        col("source").isin("src1", "src2", "src3", "src4", "src5"))
      Curation.dsirSelect(d, target, "doc_id", "text")
        .select(col("id").as("doc_id"), col("logw"))
        .orderBy(col("logw").desc, col("doc_id"))
    }),

    // Leakage-free train/val/test split (8/1/1): near-dup CLUSTERS
    // (exact-verified MinHash pairs → min-id CC) are the split unit,
    // so near-duplicates of an eval doc can never sit in train. Full
    // value oracle: the CC is recursive-CTE-expressible and the
    // split hash is the Knuth multiplicative form both engines
    // compute exactly.
    "pipe_split_leakfree" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minHashDedupPairsExact(docs, "text", "doc_id",
        shingleSize = 2, threshold = 0.8, numHashes = 32, bands = 16)
      Curation.leakFreeSplit(docs, "doc_id", pairs,
          Seq(("train", 8), ("val", 1), ("test", 1)))
        .select(col("id").as("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    // CCNet-style LM quality filter (r10): add-α bigram model trained
    // on the English slice, every doc scored in bits-per-bigram —
    // the count-based, fully-deterministic form of the KenLM
    // perplexity cut, so the WHOLE score (smoothing, OOV floor,
    // cross-entropy) is value-oracle checked.
    "pipe_lm_perplexity" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Curation.lmPerplexity(d, "doc_id", "text",
          d.filter(col("lang") === "en"), "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          col("bits_per_bigram"))
        .orderBy("doc_id")
    }),

    // Corpus drift between snapshots (r10): JS divergence between
    // the hashed-bigram profiles of two deterministic corpus halves
    // (sources src0-9 vs src10-19 standing in for consecutive crawl
    // snapshots). The profile is buckets-bounded at ANY corpus size;
    // md5 bucketing makes the whole scalar cross-engine exact.
    // THIS name keeps the original touched-only sum (r12, oracle-
    // lifecycle: an oracle captured against this query name predates
    // the r11 untouched-bucket correction, and a monitor's recorded
    // history is only comparable under the definition it was captured
    // with); the corrected full-profile value ships under the NEW
    // name `pipe_corpus_drift_full` below.
    "pipe_corpus_drift" -> ((s, dir) => {
      Curation.corpusDriftJoint(driftSide(s, dir), "doc_id", "text",
        untouchedCorrection = false)
    }),

    // Full-profile JS drift (r11 semantics): the touched-bucket sum
    // PLUS the closed-form term every untouched bucket carries when
    // the snapshot totals differ — the value a fresh deployment
    // should record baselines against.
    "pipe_corpus_drift_full" -> ((s, dir) => {
      Curation.corpusDriftJoint(driftSide(s, dir), "doc_id", "text")
    }),

    // Total-variation drift (r12): the same profiles, a statistic
    // that is exactly rational — integer arithmetic end-to-end, no
    // libm on either engine, deterministic by construction.
    "pipe_corpus_drift_tv" -> ((s, dir) => {
      Curation.corpusDriftTvJoint(driftSide(s, dir), "doc_id", "text")
    }),

    // Per-doc top-3 TF-IDF terms.
    "tfidf_top_terms" -> ((s, dir) => {
      Curation.tfIdfTopTerms(Tables.documents(s, dir), "doc_id", "text", 3)
        .select(col("id").as("doc_id"), col("rank"), col("term"), col("tfidf"))
        .orderBy("doc_id", "rank")
    }),

    // Token-budget sequence packing into 32 shards × 512-token packs.
    "pipe_pack_sequences" -> ((s, dir) => {
      Curation.packSequences(Tables.documents(s, dir), "doc_id", "text",
          budget = 512, nShards = 32)
        .orderBy("doc_id")
    }),

    // Pattern scrubbing with per-class counts.
    "pipe_redact" -> ((s, dir) => {
      Curation.redactPatterns(Tables.documents(s, dir), "doc_id", "text",
          redactClasses)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Funnel attribution: users whose first click converts to a
    // purchase within one hour, with the conversion delay.
    "evt_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val firstClick = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      firstClick.join(purchases, Seq("user_id"))
        .filter(col("p_ts") >= col("click_ts"))
        .groupBy("user_id", "click_ts")
        .agg(min("p_ts").as("purchase_ts"))
        .select(col("user_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
            .as("delay_us"))
        .filter(col("delay_us") <= 3600L * 1000000L)
        .orderBy("user_id")
    }),

    // Incremental dedup: docs with doc_id % 10 == 0 stand in for a
    // newly ingested batch; find their near-dups in the rest of the
    // corpus via a new-vs-corpus banding join (candidates scale with
    // the batch, never corpus²), true-Jaccard verified — same
    // recall-1 banding argument as dedup_minhash_lsh, so the output
    // IS the exact cross-boundary answer the oracle computes.
    "dedup_increment" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      // index path: in production the corpus index is a SAVED table
      // (buildMinHashIndex → parquet); here it derives in-query —
      // identical rows either way (PipelineSpec round-trips it)
      val corpusIdx = graft.TransientCache.persist(
        graft.functions.Dedup.buildMinHashIndex(
          d.filter(col("doc_id") % 10 =!= 0), "text", "doc_id"))
      graft.functions.Dedup.minHashIndexPairs(
          d.filter(col("doc_id") % 10 === 0), corpusIdx,
          "text", "doc_id", shingleSize = 2, threshold = 0.8,
          numHashes = 32, bands = 16)
        .orderBy("ida", "idb")
    }),

    // Quality-aware cluster resolution: every doc maps to its near-dup
    // cluster's HIGHEST-quality member (tie → lowest id) — the
    // survivor selection a curation pass actually ships (min-id
    // selection is dedup_cluster_resolve).
    "dedup_best_survivor" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val scored = d.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val pairs = graft.functions.Dedup.minHashDedupPairsExact(
        d, "text", "doc_id", shingleSize = 2, threshold = 0.8,
        numHashes = 32, bands = 16)
      graft.functions.Dedup.resolveDupClustersByScore(
          scored, "doc_id", "quality", pairs)
        .orderBy("id")
    }),

    // Per-source token budget: keep docs (hash order) while the
    // running token total stays ≤ 2000 — "sample N tokens per source".
    "pipe_token_budget" -> ((s, dir) => {
      Curation.tokenBudgetSample(Tables.documents(s, dir),
          "source", "doc_id", "text", budget = 2000L)
        .orderBy("doc_id")
    }),

    // Z-order layout key: Morton interleave of two lineitem dims —
    // the clustering key a 100 TB write path sorts by so parquet
    // min/max stats prune on BOTH dimensions (value-checked bit
    // math; the write-path plumbing is Layout.zorderLayout).
    "layout_zorder" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).filter(col("l_orderkey") < 1000)
      li.select(col("l_orderkey"), col("l_linenumber"),
          graft.functions.Layout.zorderKey(Seq(
            pmod(col("l_orderkey"), lit(256)),
            pmod(col("l_suppkey"), lit(256))), 8).as("zkey"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Sequence chunking: 64-token windows starting every 48 tokens
    // (16-token overlap) — the long-doc → context-window expansion
    // that precedes packing.
    "pipe_chunk_docs" -> ((s, dir) => {
      Curation.chunkDocuments(Tables.documents(s, dir), "doc_id", "text",
          chunkTokens = 64, strideTokens = 48)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_idx")
    }),

    // Int8 quantization audit per vector.
    "emb_quantize" -> ((s, dir) => {
      EmbeddingOps.quantizeInt8Stats(Tables.embeddings(s, dir),
          "vec_id", "embedding")
        .orderBy("vec_id")
    }),

    // Per-label centroid coordinates.
    "emb_centroids" -> ((s, dir) => {
      EmbeddingOps.labelCentroids(Tables.embeddings(s, dir),
          "label", "embedding")
        .orderBy("label", "pos")
    }),

    // Top-5 farthest-from-centroid vectors per label.
    "emb_outliers" -> ((s, dir) => {
      EmbeddingOps.centroidOutliers(Tables.embeddings(s, dir),
          "vec_id", "label", "embedding", 5)
        .orderBy("label", "rank")
    })
  )

  /** Shared profile CTEs for EVERY drift oracle (r12 verdict #7: one
    * builder so a change to the split or the profile lands in one
    * place): snapshot split, bigram construction, md5 bucketing,
    * per-side profiles and totals. The snapshot number is
    * `CAST(substr(source, 4) AS INT)` — substring arithmetic on the
    * literal 'src' prefix, no regex engine anywhere.
    */
  /* r14 failure-mode parity (r13 ADVICE): TRY_CAST + the same 10-char
   * cap as Spark's `substring(source, 4, 10).cast("int")`, so a
   * malformed source routes to NEITHER snapshot on BOTH engines
   * instead of NULLing out on Spark while hard-erroring DuckDB; and
   * ta/tb COALESCE to 0 so a degenerate one-side-empty corpus reads
   * the same numeric totals the Spark joint profile produces (sum of
   * all-zero conditional counts) instead of NULL. Both changes are
   * value-identical on the corpus contract (every source is
   * 'src<N>', both snapshots non-empty). The totals CAST to BIGINT:
   * DuckDB types SUM(BIGINT) as HUGEINT, which a pandas fetch reads
   * as float64 while Spark emits a bigint, so the un-cast n_a/n_b
   * hash-mismatched at equal values (tools/check.py now fails that
   * typing as TYPE_MISMATCH). */
  private def driftProfileCtes: String =
    s"""t AS (SELECT doc_id,
              TRY_CAST(substr(source, 4, 10) AS INT) AS sn,
              CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                ELSE [array_to_string(w, ' ')] END AS b
            FROM (SELECT doc_id, source,
                    string_split(${PipelineQueries.normText}, ' ') AS w
                  FROM documents)),
          g AS (SELECT sn, CAST(('0x' || substr(md5(s), 1, 8))::UBIGINT
                  % 4096 AS BIGINT) AS bk
                FROM (SELECT sn, unnest(b) AS s FROM t)),
          pa AS (SELECT bk, COUNT(*) AS ca FROM g WHERE sn < 10 GROUP BY bk),
          pb AS (SELECT bk, COUNT(*) AS cb FROM g WHERE sn >= 10 GROUP BY bk),
          ta AS (SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS na FROM pa),
          tb AS (SELECT CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS nb FROM pb)"""

  /** JS-drift oracle, with (`full`) or without the untouched-bucket
    * closed-form correction — shared scaffold, one diverging CTE.
    */
  private def driftJsSql(full: Boolean): String = {
    val units =
      if (full)
        """su + (4096 - touched) *
                  CAST(floor((p0 * log2(p0 / ((p0 + q0) / 2)) / 2 +
                              q0 * log2(q0 / ((p0 + q0) / 2)) / 2)
                             * 1000000000 + 0.5) AS BIGINT)"""
      else "su"
    s"""WITH $driftProfileCtes,
          terms AS (
            SELECT na, nb,
                   CAST(floor((p * log2(p / ((p + q) / 2)) / 2 +
                               q * log2(q / ((p + q) / 2)) / 2)
                              * 1000000000 + 0.5) AS BIGINT) AS u
            FROM (SELECT na, nb,
                    (COALESCE(ca, 0) + 1.0) / (na + 4096.0) AS p,
                    (COALESCE(cb, 0) + 1.0) / (nb + 4096.0) AS q
                  FROM pa FULL OUTER JOIN pb USING (bk)
                  CROSS JOIN ta CROSS JOIN tb)),
          s AS (SELECT na, nb, SUM(u) AS su, COUNT(*) AS touched
                FROM terms GROUP BY na, nb),
          c AS (SELECT na, nb, $units AS units
                FROM (SELECT na, nb, su, touched,
                        1.0 / (na + 4096.0) AS p0,
                        1.0 / (nb + 4096.0) AS q0 FROM s))
          SELECT na AS n_a, nb AS n_b,
                 CAST((units + 500) // 1000 AS DOUBLE) / 1000000.0
                   AS js_bits
          FROM c"""
  }

  /** The Morton-interleave bit expression, generated to mirror
    * Layout.zorderKey(Seq(orderkey%256, suppkey%256), 8) term by term.
    */
  private val zorderSql: String = (0 until 8).flatMap(i => Seq(
    s"((((l_orderkey % 256) >> $i) & 1) << ${2 * i})",
    s"((((l_suppkey % 256) >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")

  val oracles: Map[String, String] = Map(
    // split mirror: dedup_cluster_resolve's recursive-CTE CC (the
    // exact bigram-Jaccard pairs at 0.8 — minhash banding has full
    // recall on this corpus, see the dedup oracles note) + the Knuth
    // multiplicative hash of the canonical id, 8000/9000 cut points
    "pipe_split_leakfree" ->
      s"""WITH RECURSIVE t AS (
            SELECT doc_id, list_distinct(
              CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                ELSE [array_to_string(w, ' ')] END) AS bg
            FROM (SELECT doc_id, string_split(${PipelineQueries.normText}, ' ')
                    AS w FROM documents)),
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
                    FROM reach GROUP BY a),
          f AS (SELECT d.doc_id AS id,
                       COALESCE(c.canonical_id, d.doc_id) AS cid
                FROM documents d LEFT JOIN canon c ON d.doc_id = c.id)
          SELECT id AS doc_id,
                 CASE WHEN h < 8000 THEN 'train'
                      WHEN h < 9000 THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT id,
                  ((cid % 1000000007) * 2654435761) % 10000 AS h FROM f)
          ORDER BY doc_id""",
    // drift mirror: same bigram construction + md5 bucketing as the
    // DSIR oracle, Laplace-1 over 4096 buckets, JS in bits via log2.
    // r11 determinism fix (the r10 red row): each bucket term is
    // quantized to 1e-9-bit integer units BEFORE summing — the sum
    // is exact integer arithmetic in any order on either engine,
    // and the 6dp presentation is integer division. THIS name sums
    // the TOUCHED buckets only (the original definition an existing
    // oracle capture predates); `pipe_corpus_drift_full` below adds
    // the untouched-bucket closed form.
    "pipe_corpus_drift" -> driftJsSql(full = false),
    "pipe_corpus_drift_full" -> driftJsSql(full = true),
    // TV mirror: exactly-rational statistic — HUGEINT arithmetic
    // end-to-end (products reach ~1e14 at sf0.01 and ~1e26 at
    // 100 TB-scale totals; int128 holds both), one integer divide
    // for the 1e-6-unit presentation. No libm anywhere.
    "pipe_corpus_drift_tv" ->
      s"""WITH $driftProfileCtes,
          terms AS (
            SELECT na, nb,
                   abs((COALESCE(ca, 0) + 1)::HUGEINT * (nb + 4096)::HUGEINT
                     - (COALESCE(cb, 0) + 1)::HUGEINT * (na + 4096)::HUGEINT)
                     AS t
            FROM pa FULL OUTER JOIN pb USING (bk)
            CROSS JOIN ta CROSS JOIN tb),
          s AS (SELECT na, nb, SUM(t) AS st, COUNT(*) AS touched
                FROM terms GROUP BY na, nb),
          c AS (SELECT na, nb,
                  st + (4096 - touched)::HUGEINT * abs(nb - na)::HUGEINT AS s,
                  (na + 4096)::HUGEINT * (nb + 4096)::HUGEINT AS dd
                FROM s)
          SELECT na AS n_a, nb AS n_b,
                 CAST((s * 1000000 + dd) // (dd * 2) AS BIGINT) AS tv_units
          FROM c""",
    // LM mirror: identical bigram construction (incl. the <2-word
    // whole-text fallback), add-0.4 smoothing over the English
    // reference's bigram/context counts, V = ref unigram vocab + 1,
    // cross-entropy in bits — log2 ULP noise sits ~10 orders below
    // the 4dp rounding.
    "pipe_lm_perplexity" ->
      s"""WITH t AS (SELECT doc_id, lang,
              string_split(${PipelineQueries.normText}, ' ') AS w
            FROM documents),
          bg AS (SELECT doc_id, lang,
              CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                ELSE [array_to_string(w, ' ')] END AS b
            FROM t),
          sc AS (SELECT doc_id, unnest(b) AS g FROM bg),
          rbg AS (SELECT unnest(b) AS g FROM bg WHERE lang = 'en'),
          c2 AS (SELECT g, COUNT(*) AS c2 FROM rbg GROUP BY g),
          c1 AS (SELECT string_split(g, ' ')[1] AS w, COUNT(*) AS c1
                 FROM rbg GROUP BY 1),
          v AS (SELECT COUNT(DISTINCT u) + 1 AS v
                FROM (SELECT unnest(w) AS u FROM t WHERE lang = 'en')),
          j AS (SELECT sc.doc_id,
                  log2((COALESCE(c2.c2, 0) + 0.4) /
                       (COALESCE(c1.c1, 0) + 0.4 * v.v)) AS lp
                FROM sc
                LEFT JOIN c2 USING (g)
                LEFT JOIN c1 ON string_split(sc.g, ' ')[1] = c1.w
                CROSS JOIN v)
          SELECT doc_id, COUNT(*) AS n_bigrams,
                 ROUND(-AVG(lp), 4) AS bits_per_bigram
          FROM j GROUP BY doc_id ORDER BY doc_id""",
    // DSIR mirror: identical bigram construction (bigramJaccardSql's,
    // WITHOUT list_distinct — DSIR models occurrence counts), md5
    // hex-prefix bucketing, Laplace-1 smoothing, per-doc log-ratio
    // sum, top-50 with id tiebreak.
    "pipe_dsir" ->
      s"""WITH t AS (
            SELECT doc_id, lang, source,
              CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                ELSE [array_to_string(w, ' ')] END AS bg
            FROM (SELECT doc_id, lang, source,
                    string_split(${PipelineQueries.normText}, ' ') AS w
                  FROM documents)),
          fb AS (SELECT doc_id, lang, source,
                   CAST(('0x' || substr(md5(s), 1, 8))::UBIGINT % 4096
                        AS BIGINT) AS b
                 FROM (SELECT doc_id, lang, source, unnest(bg) AS s FROM t)),
          q AS (SELECT b, COUNT(*) AS cq FROM fb GROUP BY b),
          p AS (SELECT b, COUNT(*) AS cp FROM fb
                WHERE lang = 'en'
                  AND source IN ('src1','src2','src3','src4','src5')
                GROUP BY b),
          tq AS (SELECT SUM(cq) AS t FROM q),
          tp AS (SELECT COALESCE(SUM(cp), 0) AS t FROM p),
          ratio AS (SELECT q.b,
              ln((COALESCE(p.cp, 0) + 1.0) / ((SELECT t FROM tp) + 4096.0))
            - ln((q.cq + 1.0) / ((SELECT t FROM tq) + 4096.0)) AS lr
            FROM q LEFT JOIN p ON q.b = p.b),
          wt AS (SELECT f.doc_id, SUM(r.lr) AS logw
                 FROM fb f JOIN ratio r ON f.b = r.b GROUP BY f.doc_id)
          SELECT doc_id, ROUND(logw, 4) AS logw FROM wt
          ORDER BY logw DESC, doc_id LIMIT 50""",
    "dedup_best_survivor" ->
      s"""WITH RECURSIVE t AS (
            SELECT doc_id, list_distinct(
              CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                ELSE [array_to_string(w, ' ')] END) AS bg
            FROM (SELECT doc_id, string_split(${PipelineQueries.normText}, ' ')
                    AS w FROM documents)),
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
          canon AS (SELECT a AS id, LEAST(a, MIN(b)) AS component
                    FROM reach GROUP BY a),
          m AS (SELECT d.doc_id AS id,
                       COALESCE(c.component, d.doc_id) AS component
                FROM documents d LEFT JOIN canon c ON d.doc_id = c.id),
          q AS (${PipelineQueries.qualitySql}),
          r AS (SELECT m.component, m.id,
                  ROW_NUMBER() OVER (PARTITION BY m.component
                    ORDER BY q.quality DESC, m.id ASC) AS rk
                FROM m JOIN q ON m.id = q.doc_id),
          sv AS (SELECT component, id AS survivor_id FROM r WHERE rk = 1)
          SELECT m.id, sv.survivor_id
          FROM m JOIN sv ON m.component = sv.component
          ORDER BY id""",
    "pipe_token_budget" ->
      """WITH t AS (SELECT doc_id, source,
              CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                AS n_tokens,
              ((doc_id % 1000000007) * 2654435761) % 1000000007 AS h
            FROM documents),
          c AS (SELECT doc_id, source AS stratum, n_tokens,
                  CAST(SUM(n_tokens) OVER (PARTITION BY source
                    ORDER BY h ASC, doc_id ASC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                FROM t)
          SELECT doc_id, stratum, n_tokens, cum_tokens FROM c
          WHERE cum_tokens <= 2000 ORDER BY doc_id""",
    "layout_zorder" ->
      s"""SELECT l_orderkey, l_linenumber,
                 CAST($zorderSql AS BIGINT) AS zkey
          FROM lineitem WHERE l_orderkey < 1000
          ORDER BY l_orderkey, l_linenumber""",
    "pipe_domain_topk" ->
      s"""WITH q AS (${PipelineQueries.qualitySql}),
          r AS (SELECT d.source, q.doc_id, q.quality,
                  CAST(ROW_NUMBER() OVER (PARTITION BY d.source
                    ORDER BY q.quality DESC, q.doc_id ASC) AS INTEGER) AS rank
                FROM q JOIN documents d ON q.doc_id = d.doc_id)
          SELECT source, rank, doc_id, quality FROM r
          WHERE rank <= 20 ORDER BY source, rank""",
    "tfidf_top_terms" ->
      s"""WITH w AS (SELECT doc_id,
                unnest(string_split(${PipelineQueries.normText}, ' ')) AS s
              FROM documents),
          tf AS (SELECT doc_id, s, COUNT(*) AS tf FROM w GROUP BY 1, 2),
          df AS (SELECT s, COUNT(*) AS df
                 FROM (SELECT DISTINCT doc_id, s FROM w) GROUP BY s),
          n AS (SELECT COUNT(*) AS n_docs FROM documents),
          sc AS (SELECT tf.doc_id, tf.s AS term,
                   ROUND(CAST(tf.tf AS DOUBLE)
                     * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 4)
                     AS tfidf
                 FROM tf JOIN df ON tf.s = df.s CROSS JOIN n),
          r AS (SELECT doc_id, term, tfidf,
                  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank
                FROM sc)
          SELECT doc_id, rank, term, tfidf FROM r
          WHERE rank <= 3 ORDER BY doc_id, rank""",
    "pipe_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
              CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                AS n_tokens,
              ((doc_id % 1000000007) * 2654435761) % 1000000007 AS h
            FROM documents),
          s AS (SELECT doc_id, n_tokens, h,
                  CAST(h % 32 AS INTEGER) AS shard FROM t),
          c AS (SELECT doc_id, shard, n_tokens,
                  CAST(SUM(n_tokens) OVER (PARTITION BY shard
                    ORDER BY h ASC, doc_id ASC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                FROM s)
          SELECT doc_id, shard, n_tokens, cum_tokens,
                 CAST((cum_tokens - 1) // 512 AS BIGINT) AS pack_id
          FROM c ORDER BY doc_id""",
    "pipe_redact" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\bsp[a-z]+\b')) AS INTEGER)
             AS n_spanword,
           CAST(len(regexp_extract_all(text, '\b[a-z]{6,}\b')) AS INTEGER)
             AS n_longword,
           CAST(length(regexp_replace(
                  regexp_replace(text, '\bsp[a-z]+\b', '<spanword>', 'g'),
                  '\b[a-z]{6,}\b', '<longword>', 'g')) AS INTEGER)
             AS redacted_len
         FROM documents ORDER BY doc_id""",
    "evt_funnel" ->
      """WITH c AS (SELECT user_id, MIN(ts) AS click_ts FROM events
                    WHERE event_type = 'click' GROUP BY 1),
          p AS (SELECT c.user_id, c.click_ts, MIN(e.ts) AS purchase_ts
                FROM c JOIN events e ON e.user_id = c.user_id
                 AND e.event_type = 'purchase' AND e.ts >= c.click_ts
                GROUP BY 1, 2)
          SELECT user_id,
                 epoch_us(purchase_ts) - epoch_us(click_ts) AS delay_us
          FROM p
          WHERE epoch_us(purchase_ts) - epoch_us(click_ts) <= 3600000000
          ORDER BY user_id""",
    "dedup_increment" ->
      s"""WITH t AS (
            SELECT doc_id, list_distinct(
              CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                ELSE [array_to_string(w, ' ')] END) AS bg
            FROM (SELECT doc_id, string_split(${PipelineQueries.normText}, ' ')
                    AS w FROM documents)),
          ex AS (SELECT doc_id, unnest(bg) AS s FROM t),
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
    "pipe_chunk_docs" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                    FROM documents WHERE length(trim(text)) > 0),
         s AS (SELECT doc_id, w, len(w) AS n FROM t),
         c AS (SELECT doc_id, w, n, unnest(range(0, n, 48)) AS start FROM s)
         SELECT doc_id, CAST(start // 48 AS INTEGER) AS chunk_idx,
                CAST(start AS INTEGER) AS start_token,
                CAST(LEAST(n - start, 64) AS INTEGER) AS n_tokens,
                array_to_string(w[start+1:start+64], ' ') AS chunk_text
         FROM c ORDER BY doc_id, chunk_idx""",
    "emb_quantize" ->
      """WITH ex0 AS (SELECT vec_id, unnest(embedding) AS xf FROM embeddings),
          ex AS (SELECT vec_id, CAST(xf AS DOUBLE) AS x FROM ex0),
          a AS (SELECT vec_id, MAX(ABS(x)) AS amax FROM ex GROUP BY 1),
          er AS (SELECT ex.vec_id, a.amax,
                   CASE WHEN a.amax = 0 THEN 0.0
                     ELSE ABS(x - FLOOR(x * 127.0 / amax + 0.5) * amax / 127.0)
                   END AS e
                 FROM ex JOIN a ON ex.vec_id = a.vec_id)
          SELECT vec_id, ROUND(MAX(amax) / 127.0, 6) AS scale,
                 ROUND(MAX(e), 6) AS max_err
          FROM er GROUP BY vec_id ORDER BY vec_id""",
    "emb_centroids" ->
      """WITH ex0 AS (SELECT label,
              unnest(range(1, len(embedding) + 1)) AS i,
              unnest(embedding) AS xf
            FROM embeddings),
          ex AS (SELECT label, CAST(i - 1 AS INTEGER) AS pos,
                   CAST(xf AS DOUBLE) AS x FROM ex0)
          SELECT label, pos, ROUND(AVG(x), 6) AS centroid,
                 COUNT(*) AS n_vecs
          FROM ex GROUP BY 1, 2 ORDER BY label, pos""",
    "emb_outliers" ->
      """WITH ex0 AS (SELECT vec_id, label,
              unnest(range(1, len(embedding) + 1)) AS i,
              unnest(embedding) AS xf
            FROM embeddings),
          ex AS (SELECT vec_id, label, CAST(i - 1 AS INTEGER) AS pos,
                   CAST(xf AS DOUBLE) AS x FROM ex0),
          cent AS (SELECT label, pos, AVG(x) AS c FROM ex GROUP BY 1, 2),
          d AS (SELECT ex.vec_id, ex.label,
                  ROUND(SQRT(SUM((x - c) * (x - c))), 4) AS dist
                FROM ex JOIN cent ON ex.label = cent.label
                  AND ex.pos = cent.pos
                GROUP BY 1, 2),
          r AS (SELECT label, vec_id, dist,
                  CAST(ROW_NUMBER() OVER (PARTITION BY label
                    ORDER BY dist DESC, vec_id ASC) AS INTEGER) AS rank
                FROM d)
          SELECT label, rank, vec_id, dist FROM r
          WHERE rank <= 5 ORDER BY label, rank"""
  )
}
