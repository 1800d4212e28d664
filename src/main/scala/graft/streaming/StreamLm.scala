package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Curation, TextFunctions}
import graft.Lineage.CutOps

/** Streaming n-gram LM model maintenance — the ingest-side twin of
  * `Curation.lmPerplexity`'s training half, same
  * one-operator-for-ingest-and-backfill pattern as
  * StreamSketch/StreamHll/StreamQuantile: each micro-batch of
  * reference documents folds its bigram counts and unigram vocabulary
  * into the at-rest model, so the CCNet-style quality cut can score
  * against "the reference so far" at any moment without replaying the
  * stream. Counts are additive, so the fold is exact — a
  * stream-maintained model scores IDENTICALLY to a batch-trained one
  * over the same documents (spec-pinned, to the rounded bit).
  *
  * Durability contract: count adds are NOT idempotent (the MG/quantile
  * class, not the HLL class), so the high-water mark writes FIRST — a
  * crash before the model writes loses that batch, it can never
  * double-count. Between the two model parts the write order is
  * chosen to make the crash window DETECTABLE: c2 (bigram counts)
  * first, vocab second, because every first-word of a c2 gram is by
  * construction IN the unigram vocabulary — a c2 containing words the
  * vocab lacks is the torn-write signature and [[read]] refuses it
  * (the reverse order would leave a silently half-applied batch:
  * vocab ⊇ c2-words holds in every normal state too).
  */
object StreamLm {

  /** Per-batch body: a stream's `foreachBatch` function, also called
    * directly (re-delivery tests, batch backfill through the
    * identical code path). Returns false for a
    * batchId at or below the high-water mark.
    */
  def applyBatch(batch: DataFrame, textCol: String, path: String,
      batchId: Long)(onBatch: Long => Unit = _ => ()): Boolean = {
    val spark = batch.sparkSession
    val apply = batchId > StreamMeta.lastApplied(spark, path)
    if (apply) {
      val b = graft.TransientCache.persist(
        batch.select(col(textCol).as("text"))
          .withColumn("__rid", monotonically_increasing_id()))
      val bc2 = TextFunctions.shingleRows(b, "__rid", "text", 2)
        .groupBy(col("s").as("g")).agg(count(lit(1)).as("c2"))
      val bv = TextFunctions.shingleRows(b, "__rid", "text", 1)
        .select(col("s").as("w")).distinct()
      val (c2, vocab) = readParts(spark, path) match {
        case None => (bc2, bv)
        case Some((p2, pv)) =>
          (p2.unionByName(bc2).groupBy("g").agg(sum("c2").as("c2")),
            pv.unionByName(bv).distinct())
      }
      // HWM first (lose-the-batch, never double-count), then c2,
      // then vocab — see the class doc for why this order makes the
      // remaining crash window detectable. Cut before each
      // overwrite: the merge plans read the parquet they replace.
      StreamMeta.writeLastApplied(spark, path, batchId)
      c2.cut(reliable = false).write.mode("overwrite").parquet(s"$path/c2")
      vocab.cut(reliable = false).write.mode("overwrite").parquet(s"$path/vocab")
      onBatch(batchId)
    }
    apply
  }

  private def readParts(spark: SparkSession,
      path: String): Option[(DataFrame, DataFrame)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p2 = new org.apache.hadoop.fs.Path(s"$path/c2")
    val pv = new org.apache.hadoop.fs.Path(s"$path/vocab")
    val (have2, haveV) =
      (p2.getFileSystem(conf).exists(p2), pv.getFileSystem(conf).exists(pv))
    if (!have2 && !haveV) None
    else if (have2 != haveV)
      throw new IllegalStateException(
        s"LM model at $path is half-written (c2=$have2, vocab=$haveV): " +
          "restore or delete BOTH parts to restart the model")
    else Some((spark.read.parquet(s"$path/c2"),
      spark.read.parquet(s"$path/vocab")))
  }

  /** The at-rest model: bigram counts + |vocab|+1, validated — a c2
    * whose first-words are not all in the vocab is the torn-write
    * signature (crash between the c2 and vocab overwrites) and
    * refuses rather than scoring under a silently-stale V.
    */
  def read(spark: SparkSession, path: String): (DataFrame, Long) =
    readParts(spark, path) match {
      case None => throw new IllegalStateException(
        s"no LM model at $path — no batch has been applied yet")
      case Some((c2, vocab)) =>
        val missing = c2
          .select(split(col("g"), " ").getItem(0).as("w")).distinct()
          .join(vocab, Seq("w"), "left_anti").count()
        if (missing > 0)
          throw new IllegalStateException(
            s"LM model at $path is torn: $missing c2 words missing from " +
              "the vocab (crash between the c2 and vocab writes); " +
              "restore or delete BOTH parts to restart")
        (c2, vocab.count() + 1L)
    }

  /** Score documents in bits-per-bigram against the at-rest model —
    * the same scorer the batch path uses ([[Curation.lmScoreBits]]).
    */
  def score(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, alpha: Double = 0.4): DataFrame = {
    val (c2, v) = read(spark, path)
    Curation.lmScoreBits(docs, idCol, textCol, c2, v, alpha)
  }
}
