package graft

/** Suite-wide plan lint: every query in the driver surface is built
  * against sf0.001 and its physical plan checked for the two
  * anti-patterns that kill a plan at 100 TB no matter how green its
  * oracle is —
  *
  *  1. a shuffled CartesianProduct (an all-pairs sweep where BOTH
  *     sides shuffle: never acceptable; the intentional all-pairs
  *     verification sweeps in this codebase are all
  *     `x ⋈ broadcast(y)` BroadcastNestedLoopJoins whose broadcast
  *     side is provably bounded);
  *  2. a BroadcastNestedLoopJoin outside the audited whitelist (BNLJ
  *     is legitimate exactly where a bounded side — query batch,
  *     16-byte signatures, centroid model, single-row aggregate —
  *     broadcasts under an n² condition that Catalyst cannot express
  *     as an equi-join).
  *
  * Per-query pushdown/broadcast/group-limit specifics live in
  * PlanSpec; this lint guards the WHOLE surface so a future query
  * can't quietly ship a cartesian.
  */
class PlanLintSpec extends SparkSpec {

  /** Queries whose plans legitimately contain a
    * BroadcastNestedLoopJoin, with the bounded broadcast side named.
    */
  private val bnljAllowed: Map[String, String] = Map(
    "dedup_embedding" -> "corpus embeddings under maxExactRows (auto-select bound)",
    "dedup_embedding_lsh_recall" -> "exact branch of the recall comparison + single-row found x total",
    "dedup_simhash" -> "16-byte signature rows (BNLJ prefilter documented at simHashDedupPairsExact)",
    "dedup_simhash_complete" -> "16-byte signature rows, bucketed vs brute-force comparison",
    "dedup_simhash_increment" -> "16-byte batch signature rows, index path vs brute-force cross scan",
    "ann_cosine_topk" -> "query batch (vec_id < 10)",
    "ann_lsh_recall" -> "query batch + brute-force reference side",
    "ann_ivf_recall" -> "query batch, centroid model, brute-force reference side",
    "ann_ivf_increment" -> "query batch, centroid model, brute-force reference side",
    "ann_pq_recall" -> "query batch, PQ codebook model, brute-force reference side",
    "stats_sketch_bounds" -> "single-row aggregate crossJoined to itself",
    "tfidf_top_terms" -> "single-row corpus count broadcast",
    "pipe_corpus_drift" -> ("single-row bigram-total aggregates (n_a, " +
      "n_b, js sum) crossJoined into the one-row result"),
    "pipe_corpus_drift_full" -> ("single-row bigram-total aggregates " +
      "crossJoined into the one-row result (same shape as pipe_corpus_drift)"),
    "pipe_corpus_drift_tv" -> ("single-row bigram-total aggregates " +
      "crossJoined into the one-row result (same shape as pipe_corpus_drift)"),
    "pipe_temperature_mix" -> "single-row weight-sum broadcast",
    "text_fingerprint" -> "single-row aggregate",
    "emb_outliers" -> "per-label centroid model",
    "gql_unwind" -> "leading-UNWIND literal list (2 rows, broadcast by construction) cross-composed against the MATCH",
    "gql_labels" -> "single-row nation id/count aggregate crossJoined onto the 6-row label counts",
    "dedup_semantic" -> "validation harness only: the INDEPENDENT exact global pair scan (embeddingDedupPairs under its maxExactRows bound) the violation oracle compares against — the production path is the cid-bucketed SHUFFLE_HASH equi-join",
    "pipe_dsir" -> "two single-row model-total aggregates broadcast onto the <= buckets-row (4096) log-ratio table",
    "g31_landmarks" -> "u<v pair enumeration over the 30-id bounded vertex slice (the bound readout set, never the corpus)",
    "g35_triangle_sketch" -> "two single-row aggregates (sampled triangle count x sampled edge count) crossJoined into the one-row readout"
  )

  /** Queries whose plans legitimately rank over an UNPARTITIONED
    * window — acceptable only because the window's input is already
    * bounded by a preceding top-k, never corpus-sized.
    */
  private val globalWindowAllowed: Map[String, String] = Map(
    "text_top_ngrams" -> "ranks the 20 survivors of a TakeOrdered limit, not the vocabulary"
  )

  test("no query plan contains a shuffled cartesian; BNLJ / global windows only where audited") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val qe = fn(spark, sf).queryExecution
        val plan = qe.executedPlan.toString
        if (plan.contains("CartesianProduct"))
          failures += s"$name: CartesianProduct"
        if (!bnljAllowed.contains(name) && plan.contains("BroadcastNestedLoopJoin"))
          failures += s"$name: unaudited BroadcastNestedLoopJoin"
        // a window with an empty partition spec funnels the whole
        // input through ONE task — a silent scale killer unless the
        // input is provably bounded upstream
        val globalWindows = qe.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
        if (!globalWindowAllowed.contains(name) && globalWindows.nonEmpty)
          failures += s"$name: unaudited global (unpartitioned) window"
      } catch {
        case e: Throwable => failures += s"$name: plan build threw ${e.getMessage}"
      } finally TransientCache.releaseAll()
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
