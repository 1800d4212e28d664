package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline
  * runs between filtering and shard writing: per-stratum selection,
  * keyword extraction, and token-budget sequence packing.
  *
  * All three are pure DataFrame compositions — shuffles only on the
  * declared keys, window partitions bounded by a stratum/shard (never
  * a global single-partition window), arithmetic expressible in both
  * Spark and an ANSI oracle so every operator is value-checked.
  */
object Curation {

  /** Top-k documents per stratum (source/domain) by a score column —
    * the "keep the best N pages per domain" curation step. The rank
    * window partitions by the stratum, so each partition sorts only
    * its own stratum; with AQE skew handling a hot domain splits into
    * sorted sub-partitions before ranking. Deterministic tiebreak on
    * the id.
    */
  def domainTopK(df: DataFrame, stratumCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(stratumCol)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** CCNet-style LANGUAGE-MODEL quality filter (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data" — public): train an n-gram LM on a trusted REFERENCE
    * slice and score every document's fluency under it; low-ppl docs
    * read like the reference, high-ppl docs are boilerplate/noise.
    * CCNet uses KenLM; this is the Spark-native count form: an
    * add-α-smoothed BIGRAM model
    * `P(w₂|w₁) = (c₂(w₁w₂) + α) / (c₁(w₁) + α·V)` with c₁ the
    * bigram-context total and V the reference unigram vocabulary + 1
    * (the unseen class). Deterministic end to end — a pure function
    * of (docs, reference, α) — so the whole score is value-oracle
    * checkable, which KenLM's quantized trie never is.
    *
    * Returns (id, n_bigrams, bits_per_bigram): the score is the
    * CROSS-ENTROPY in bits (−avg log₂ P, rounded 4dp — ppl = 2^bits
    * is monotone in it, and bits at ~10¹ magnitude absorb cross-
    * engine libm ULP noise that exp'd perplexities at ~10⁴ would
    * amplify). Docs under 2 words score as one unseen "bigram" (the
    * shingle fallback) — the OOV floor.
    *
    * Scale: the model is two DISTRIBUTED count tables (bigram and
    * context) joined at score time — vocab-bounded but never
    * collected (a web-scale reference's bigram vocabulary does not
    * fit a driver); V rides in as one count scalar. Scoring is one
    * explode + two equi-joins (AQE broadcasts the model when small)
    * + a map-side-combined per-doc average.
    */
  def lmPerplexity(docs: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String,
      alpha: Double = 0.4): DataFrame = {
    require(alpha > 0, s"additive smoothing needs alpha > 0, got $alpha")
    val ref = graft.TransientCache.persist(
      reference.select(col(refTextCol).as("text"))
        .withColumn("__rid", monotonically_increasing_id()))
    val refBig = graft.TransientCache.persist(
      TextFunctions.shingleRows(ref, "__rid", "text", 2))
    val c2 = refBig.groupBy(col("s").as("g")).agg(count(lit(1)).as("c2"))
    val v = TextFunctions.shingleRows(ref, "__rid", "text", 1)
      .select("s").distinct().count() + 1L
    lmScoreBits(docs, idCol, textCol, c2, v, alpha)
  }

  /** Scoring half of [[lmPerplexity]], shared with the streaming
    * model maintainer (graft.streaming.StreamLm): bits-per-bigram of
    * `docs` under a bigram-count model `(g, c2)` — the context
    * totals c₁(w) derive from c₂ by one vocab-bounded aggregate, so
    * the at-rest model is a SINGLE count table.
    */
  def lmScoreBits(docs: DataFrame, idCol: String, textCol: String,
      c2: DataFrame, vocabPlusOne: Long, alpha: Double): DataFrame = {
    require(alpha > 0, s"additive smoothing needs alpha > 0, got $alpha")
    val c2p = graft.TransientCache.persist(c2)
    val c1 = c2p.groupBy(split(col("g"), " ").getItem(0).as("w"))
      .agg(sum(col("c2")).as("c1"))
    val db = TextFunctions.shingleRows(docs, idCol, textCol, 2)
    db.join(c2p, db("s") === c2p("g"), "left")
      .withColumn("w", split(col("s"), " ").getItem(0))
      .join(c1, Seq("w"), "left")
      .select(col("id"),
        log2((coalesce(col("c2"), lit(0L)) + lit(alpha)) /
          (coalesce(col("c1"), lit(0L)) + lit(alpha * vocabPlusOne)))
          .as("lp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(col("lp")), 4).as("bits_per_bigram"))
  }

  /** Per-document top-k terms by TF-IDF (natural-log IDF, no
    * smoothing): tf(d,t) · ln(N / df(t)).
    *
    * Two chained HashAggregates — (id, term) term frequencies, then
    * term document frequencies — and one equi-join on the term; the
    * corpus size N rides in as a broadcast single-row frame so the
    * whole plan stays lazy. Scores are ranked and emitted ROUNDED (4
    * dp): ranking on the rounded score makes the order robust to
    * last-ulp differences in ln() across engines, and the tiebreak
    * (term asc) is total.
    */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val words = TextFunctions.shingleRows(df, idCol, textCol, 1)
    val tf = words.groupBy("id", "s").agg(count(lit(1)).as("tf"))
    val dfreq = words.select("id", "s").distinct()
      .groupBy("s").agg(count(lit(1)).as("df"))
    val n = broadcast(df.agg(count(lit(1)).as("n_docs")))
    val scored = tf.join(dfreq, Seq("s")).crossJoin(n)
      .select(col("id"), col("s").as("term"),
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 4)
          .as("tfidf"))
    val w = Window.partitionBy("id")
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): rank
    * every raw document by how target-like its hashed-n-gram profile
    * is — log w(x) = log p̂_target(x) − log p̂_raw(x) under
    * bag-of-hashed-bigrams categorical models — and keep the top k.
    * This is the standard "select pretraining data that looks like a
    * trusted corpus" pass.
    *
    * The 100 TB shape is what makes DSIR practical: features are
    * HASHED into a fixed `buckets`-ary vocabulary (md5-based so the
    * oracle can reproduce the bucketing — same rationale as the
    * portable mix in randomWalks), so both fitted models and the
    * per-bucket log-ratio table are ≤ `buckets` rows regardless of
    * corpus size. Two map-side-combined aggregations fit the models,
    * the ratio table BROADCASTS to the per-occurrence scoring join
    * (never a shuffle of the corpus against the model), the per-doc
    * reduce is one shuffle on doc id, and the selection is a
    * TakeOrdered top-k, never a global sort. Laplace smoothing
    * (`alpha`) keeps buckets unseen in the target finite; ties break
    * by id so the selection is deterministic.
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 4096, k: Int = 50,
      alpha: Double = 1.0): DataFrame = {
    def bucketRows(df: DataFrame): DataFrame =
      TextFunctions.shingleRows(df, idCol, textCol, 2)
        .select(col("id"),
          (conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long")
            % buckets).as("b"))
    // persist the shared intermediates: rawB feeds BOTH the model
    // aggregate and the scoring join, and each model frame is read
    // by its total and by the ratio — unpersisted, every consumer
    // re-runs the shingle explode (observed: 10 corpus scans in the
    // plan; 2 after)
    val rawB = graft.TransientCache.persist(bucketRows(raw))
    val q = graft.TransientCache.persist(
      rawB.groupBy("b").agg(count(lit(1)).as("cq")))
    val p = graft.TransientCache.persist(
      bucketRows(target).groupBy("b").agg(count(lit(1)).as("cp")))
    val qt = q.agg(sum("cq").as("tq"))
    val pt = p.agg(sum("cp").as("tp"))
    // per-bucket log importance ratio; only buckets the raw corpus
    // uses can ever be scored, so LEFT join from q suffices
    val ratio = q.join(p, Seq("b"), "left")
      .crossJoin(broadcast(qt)).crossJoin(broadcast(pt))
      .select(col("b"),
        (log((coalesce(col("cp"), lit(0L)).cast("double") + alpha) /
             (coalesce(col("tp"), lit(0L)).cast("double") + alpha * buckets)) -
         log((col("cq").cast("double") + alpha) /
             (col("tq").cast("double") + alpha * buckets))).as("lr"))
    rawB.join(broadcast(ratio), Seq("b"))
      .groupBy("id").agg(sum("lr").as("logw"))
      .orderBy(col("logw").desc, col("id").asc).limit(k)
      .select(col("id"), round(col("logw"), 4).as("logw"))
  }

  /** Corpus DRIFT between two snapshots — the monitoring pass a
    * continuously-crawled pretraining pipeline runs before mixing a
    * new snapshot in: Jensen-Shannon divergence between the two
    * corpora's hashed-bigram profiles (the same md5-bucket profile
    * DSIR models — lexical distribution compressed into a FIXED
    * `buckets`-row table at any corpus size, so drift over 100 TB
    * snapshots costs two bigram scans and a 4096-row join).
    * Laplace-α smoothing keeps empty buckets finite; JS (in bits,
    * base-2) is symmetric and bounded [0, 1] — 0 means identical
    * profiles, 1 means disjoint. Deterministic (md5 buckets), so the
    * whole scalar is value-oracle checkable.
    *
    * Returns one row: (n_a, n_b, js_bits) — bigram totals and the
    * divergence rounded 6dp.
    *
    * CROSS-ENGINE DETERMINISM (the r10 driver run caught a 6dp hash
    * flip between Spark and DuckDB): every per-bucket JS term is
    * quantized to an integer count of 1e-9-bit units —
    * `floor(term·1e9 + 0.5)` as a long — BEFORE summation, so the
    * reduction is exact integer arithmetic in any order on any
    * engine, and the final 6dp rounding is integer division of the
    * unit count. The only float sensitivity left is a single libm
    * `log2` per bucket landing within ~1 ULP (≈1e-16, ≈1e-7 units)
    * of a unit midpoint — ~1e-7 knife-edge probability per bucket
    * vs the unquantized form's unbounded order-of-summation drift.
    * Quantization bias is ≤ 0.5e-9/bucket (≤ 2.05e-6 worst case at
    * 4096 buckets, ~2e-8 expected) — the quantized sum IS the
    * defined value, identically on both engines.
    *
    * UNTOUCHED buckets (neither snapshot hashed into them) carry
    * p = α/(n_a+αB) vs q = α/(n_b+αB) — equal ONLY when n_a = n_b.
    * When totals differ each untouched bucket contributes one
    * identical positive closed-form term, added here as
    * (B − touched) · quantize(term₀) from the same aggregates
    * (one scalar — the full-B sum without materializing B rows).
    * `untouchedCorrection = false` omits that closed form and sums
    * the TOUCHED buckets only — the pre-r11 semantics, kept
    * selectable because a drift monitor's consumers compare the
    * scalar against their own recorded history: a monitor that
    * captured baselines under the touched-only definition keeps its
    * series comparable, while new deployments take the corrected
    * full-profile value (the two differ by the one closed-form term
    * whenever n_a ≠ n_b).
    */
  def corpusDrift(a: DataFrame, b: DataFrame, idCol: String,
      textCol: String, buckets: Int = 4096,
      alpha: Double = 1.0, untouchedCorrection: Boolean = true): DataFrame =
    corpusDriftJoint(sideUnion(a, b, idCol, textCol), idCol, textCol,
      buckets, alpha, untouchedCorrection)

  /** Per-bucket JS contribution (bits) quantized to 1e-9-bit units;
    * pointwise ≥ 0 (two-point KL), so the unit count is ≥ 0.
    */
  private def jsTermUnits(p: Column, q: Column): Column = {
    val m = (p + q) / 2
    floor((p * log2(p / m) / 2 + q * log2(q / m) / 2) * 1e9 + 0.5)
      .cast("long")
  }

  /** Per-bucket TV numerator |(ca+1)(n_b+B) − (cb+1)(n_a+B)| in
    * decimal(38,0).
    */
  private def tvTermAbs(ca: Column, cb: Column, na: Column, nb: Column,
      bL: Column): Column = {
    val dec = "decimal(38,0)"
    abs((ca + 1L).cast(dec) * (nb + bL).cast(dec) -
        (cb + 1L).cast(dec) * (na + bL).cast(dec))
  }

  /** [[corpusDrift]] over ONE frame carrying a boolean `__sa` side
    * column (true = snapshot A) — when both snapshots derive from the
    * same base table this form profiles them in a SINGLE corpus scan
    * and shingle pass (r13: the two-DataFrame form paid two scans and
    * two persists for one 4096-row answer; at 100 TB the scan IS the
    * query). Values are identical: the joint (bk, ca, cb) profile is
    * the full-outer join of the per-side profiles by construction.
    */
  def corpusDriftJoint(df: DataFrame, idCol: String,
      textCol: String, buckets: Int = 4096,
      alpha: Double = 1.0, untouchedCorrection: Boolean = true): DataFrame = {
    val prof = graft.TransientCache.persist(
      bigramProfileJoint(df, textCol, buckets))
    val na = prof.agg(sum("ca").as("na"))
    val nb = prof.agg(sum("cb").as("nb"))
    val touched = prof
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("na"), col("nb"), jsTermUnits(
        (col("ca").cast("double") + alpha) /
          (col("na").cast("double") + alpha * buckets),
        (col("cb").cast("double") + alpha) /
          (col("nb").cast("double") + alpha * buckets)).as("u"))
      .groupBy("na", "nb")
      .agg(sum("u").as("su"), count(lit(1)).as("touched"))
    val units =
      if (untouchedCorrection)
        col("su") + (lit(buckets.toLong) - col("touched")) * jsTermUnits(
          lit(alpha) / (col("na").cast("double") + alpha * buckets),
          lit(alpha) / (col("nb").cast("double") + alpha * buckets))
      else col("su")
    touched
      .select(col("na"), col("nb"), units.as("units"))
      // 6dp presentation as exact integer rounding of the unit count
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        (expr("(units + 500) div 1000").cast("double") / 1e6)
          .as("js_bits"))
  }

  /** The fixed-width hashed-bigram profile both drift statistics run
    * on: md5-bucketed bigram counts, `buckets` rows at ANY corpus
    * size (the DSIR profile — two corpus scans and a 4096-row join
    * no matter whether the snapshots are 60k docs or 100 TB).
    */
  private def bigramProfileJoint(df: DataFrame,
      textCol: String, buckets: Int): DataFrame = {
    // r13 ADVICE: the old idCol parameter was silently unused — the
    // side tag is ALWAYS the `__sa` column. Validate it up front so a
    // caller without the tag fails with the contract, not an
    // unresolved-column analysis error.
    require(df.columns.contains("__sa"),
      "Joint drift forms require a boolean `__sa` side column " +
        "(true = snapshot A); use corpusDrift/corpusDriftTv for two " +
        "separate frames")
    TextFunctions.shingleRows(
        df.select(col("__sa"), col(textCol)), "__sa", textCol, 2)
      .select(col("id").as("__sa"),
        (conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long")
          % buckets).as("bk"))
      .groupBy("bk").agg(
        sum(when(col("__sa"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("__sa"), 0L).otherwise(1L)).as("cb"))
  }

  /** Tag-and-union fallback for the generic two-DataFrame drift
    * forms: the joint profile still computes in one aggregation, but
    * two unrelated inputs cost two scans (callers whose snapshots
    * share a base table should pass the side column directly through
    * the `Joint` forms instead).
    */
  private def sideUnion(a: DataFrame, b: DataFrame, idCol: String,
      textCol: String): DataFrame =
    a.select(col(idCol), col(textCol), lit(true).as("__sa"))
      .unionByName(
        b.select(col(idCol), col(textCol), lit(false).as("__sa")))

  /** Corpus drift as TOTAL-VARIATION distance between the two
    * snapshots' Laplace-1-smoothed hashed-bigram profiles —
    * TV = ½ Σ_b |p_b − q_b| ∈ [0, 1), same monitoring role as
    * [[corpusDrift]]'s JS divergence with one property JS cannot
    * have: the statistic is EXACTLY RATIONAL, so the emitted value
    * involves no transcendental function on any engine. With α = 1,
    *   p_b − q_b = [(ca_b+1)(n_b+B) − (cb_b+1)(n_a+B)] / (D_a·D_b),
    *   D_x = n_x + B,
    * so the numerator sum S = Σ_b |(ca+1)(n_b+B) − (cb+1)(n_a+B)|
    * is pure integer arithmetic (decimal(38,0) — products reach
    * ~10²⁶ at 100 TB bigram totals, past long range), untouched
    * buckets contribute (B − touched)·|n_b − n_a| in closed form,
    * and the 1e-6-unit presentation
    *   tv_units = round(S·10⁶ / (2·D_a·D_b))
    *            = (S·10⁶ + D_a·D_b) div (2·D_a·D_b)
    * is one exact integral divide. Every engine that can hash md5
    * and divide integers emits the identical row — there is no
    * libm, no float summation order, no rounding mode anywhere in
    * the definition (the JS variants quantize per-bucket log2 terms
    * and still carry a ~1-ULP knife edge per bucket; this carries
    * none). Returns one row (n_a, n_b, tv_units) with tv_units an
    * integer count of 1e-6 TV units.
    */
  def corpusDriftTv(a: DataFrame, b: DataFrame, idCol: String,
      textCol: String, buckets: Int = 4096): DataFrame =
    corpusDriftTvJoint(sideUnion(a, b, idCol, textCol), idCol, textCol,
      buckets)

  /** [[corpusDriftTv]] over one side-tagged frame — see
    * [[corpusDriftJoint]] for the single-scan rationale.
    */
  def corpusDriftTvJoint(df: DataFrame, idCol: String,
      textCol: String, buckets: Int = 4096): DataFrame =
    corpusDriftTvFromProfile(graft.TransientCache.persist(
      bigramProfileJoint(df, textCol, buckets)), buckets)

  /** The TV statistic over an already-built joint (bk, ca, cb)
    * profile — the arithmetic-only tail of [[corpusDriftTv]].
    */
  private def corpusDriftTvFromProfile(prof: DataFrame,
      buckets: Int = 4096): DataFrame = {
    val na = prof.agg(sum("ca").as("na"))
    val nb = prof.agg(sum("cb").as("nb"))
    val dec = "decimal(38,0)"
    val bL = lit(buckets.toLong)
    val touched = prof
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("na"), col("nb"),
        tvTermAbs(col("ca"), col("cb"), col("na"), col("nb"), bL).as("t"))
      .groupBy("na", "nb")
      .agg(sum(col("t")).as("st"), count(lit(1)).as("touched"))
    touched
      .select(col("na"), col("nb"),
        (col("st") + (bL - col("touched")).cast(dec) *
          abs(col("nb") - col("na")).cast(dec)).as("s"),
        ((col("na") + bL).cast(dec) * (col("nb") + bL).cast(dec)).as("dd"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        expr(s"cast((s * 1000000 + dd) div (dd * 2) as long)")
          .as("tv_units"))
  }

  /** Leakage-free train/val/test split. The naive per-doc hash split
    * LEAKS: near-duplicates of an eval document land in train and
    * the eval set measures memorization instead of generalization.
    * This assigns each near-dup CLUSTER to one split — docs map to
    * their cluster's canonical id ([[Dedup.resolveDupClusters]]
    * min-id connected components over the verified dup pairs) and
    * the split decision hashes the CANONICAL id (Knuth
    * multiplicative form, oracle-reproducible — see
    * [[Sampling.idHash]]) — so every member of a cluster, and
    * therefore every near-dup pair, lands in the same split BY
    * CONSTRUCTION, not by audit. `weights` are integer proportions
    * (e.g. train 8 / val 1 / test 1 ⇒ cut points 8000/9000 of the
    * 10000-wide hash space). At 100 TB this adds one CC resolve and
    * one hash projection to the split the pipeline already does;
    * the decision stays a pure function of (corpus, pairs), so
    * re-runs and backfills agree row for row.
    */
  def leakFreeSplit(df: DataFrame, idCol: String, dupPairs: DataFrame,
      weights: Seq[(String, Int)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be positive integer proportions")
    val total = weights.map(_._2).sum
    val cuts = weights.map(_._2).scanLeft(0L)(_ + _).tail
      .map(c => c * 10000L / total)
    val canon = Dedup.resolveDupClusters(df.select(col(idCol)), idCol,
      dupPairs)
    val h = Sampling.idHash(col("canonical_id"))
    val named = weights.map(_._1).zip(cuts)
    val splitCol =
      if (named.size == 1) lit(named.head._1)
      else named.init.tail.foldLeft(
          when(h < named.head._2, named.head._1)) {
          case (acc, (name, cut)) => acc.when(h < cut, name)
        }.otherwise(named.last._1)
    canon.select(col("id"), splitCol.as("split"), col("canonical_id"))
  }

  /** Multiplicative hash on a non-negative long id — the
    * deterministic, partitioning-independent pseudo-shuffle key (same
    * recipe as Sampling: Knuth multiplicative hashing, reproducible
    * in any engine — no xxhash in the oracle's dialect). The id is
    * reduced mod 1e9+7 BEFORE the multiply: the product then peaks at
    * ~2.65e18 < Long.MaxValue, so the recipe never overflows in
    * either engine (a raw id above ~3.47e9 — routine at 100 TB —
    * would silently wrap negative in Spark and raise in an ANSI
    * engine). No-op below 1e9+7, so small-id results are unchanged.
    */
  private def mixKey(id: org.apache.spark.sql.Column) =
    ((id % lit(1000000007L)) * lit(2654435761L)) % lit(1000000007L)

  /** Token-budget sequence packing: deterministically shuffle docs
    * (hash order), split them into `nShards` independent shards, and
    * within each shard assign consecutive docs to packs of ~`budget`
    * tokens by running token count (a doc whose cumulative count
    * crosses the boundary opens the next pack — the streaming-writer
    * approximation of bin packing; exact first-fit is inherently
    * sequential and doesn't distribute).
    *
    * Scale shape: the ONLY window is per-shard, so parallelism =
    * nShards and no global sort exists anywhere in the plan. At
    * 100 TB the shard count rises (it's a parameter, not a constant)
    * and each shard's window stays executor-sized; shards are also
    * exactly the unit a downstream shard-writer consumes.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      budget: Int, nShards: Int): DataFrame = {
    val t = df.select(col(idCol).as("doc_id"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"),
      mixKey(col(idCol)).as("h"))
      .withColumn("shard", (col("h") % nShards).cast("int"))
    val w = Window.partitionBy("shard").orderBy(col("h").asc, col("doc_id").asc)
    t.withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("pack_id", expr(s"(cum_tokens - 1) div $budget"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("cum_tokens"), col("pack_id"))
  }

  /** Per-stratum token-budget sampling — "keep ~B tokens per source":
    * docs take the deterministic hash order, and a running token
    * total per stratum keeps every doc that starts inside the budget.
    * Reproducible at any partitioning (same mixKey recipe as
    * packSequences). The window partitions by stratum; a stratum far
    * bigger than its budget should be pre-thinned with
    * Sampling.stratifiedSample at rate ≈ budget/stratum_tokens so the
    * sort feeding this window stays proportional to the KEPT set, not
    * the corpus.
    */
  def tokenBudgetSample(df: DataFrame, stratumCol: String, idCol: String,
      textCol: String, budget: Long): DataFrame = {
    val t = df.select(col(idCol).as("doc_id"), col(stratumCol).as("stratum"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"),
      mixKey(col(idCol)).as("h"))
    val w = Window.partitionBy("stratum").orderBy(col("h").asc, col("doc_id").asc)
    t.withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("stratum"), col("n_tokens"), col("cum_tokens"))
  }

  /** Sequence chunking with stride: split each document's token
    * stream into windows of `chunkTokens`, starting every
    * `strideTokens` (overlap = chunk − stride), until the starts run
    * past the end — the pretraining pass that turns long documents
    * into model-context-sized pieces (and the 1→N row expansion that
    * precedes `packSequences`).
    *
    * Fully relational: `posexplode(sequence(0, n−1, stride))`
    * generates the window starts in codegen, `slice` +
    * `array_join` materialize each window — one scan, no lambdas,
    * no state; the expansion factor is ~n/stride rows per doc and
    * each output row is chunk-sized, so the operator streams at any
    * corpus size.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0 && strideTokens <= chunkTokens,
      s"need 0 < stride <= chunk: chunk=$chunkTokens stride=$strideTokens")
    val words = split(trim(col(textCol)), "\\s+")
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), words.as("__w"))
      .select(col("id"), col("__w"),
        posexplode(sequence(lit(0), size(col("__w")) - 1,
          lit(strideTokens))).as(Seq("chunk_idx", "__start")))
      .select(col("id"), col("chunk_idx"),
        col("__start").as("start_token"),
        least(size(col("__w")) - col("__start"), lit(chunkTokens))
          .as("n_tokens"),
        array_join(slice(col("__w"), col("__start") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** PII-style pattern redaction: replace every match of the given
    * regex classes with a typed placeholder and report per-doc match
    * counts — the scan-side scrub a corpus release runs. All
    * regexp_replace/regexp_count, fully codegen'd, one pass.
    */
  def redactPatterns(df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[(String, String)]): DataFrame = {
    val redacted = patterns.foldLeft(col(textCol)) {
      case (c, (name, re)) => regexp_replace(c, re, s"<$name>")
    }
    val counts = patterns.map { case (name, re) =>
      regexp_count(col(textCol), lit(re)).as(s"n_$name")
    }
    df.select(col(idCol).as("id") +: counts :+
      length(redacted).as("redacted_len"): _*)
  }
}
