package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Sketches

/** Streaming ε-approximate quantile summary — the ingest-side twin of
  * `Sketches.quantileCoreset`/`certifiedQuantiles`, completing the
  * streaming sketch family (StreamSketch: frequency, StreamHll:
  * cardinality, this: distribution). Each micro-batch builds its own
  * weighted coreset (per-partition sorted subsampling, fixed size),
  * APPENDS it to the persisted at-rest coreset — weighted coresets
  * merge by plain union, ranks are additive — and compacts the merged
  * coreset when it outgrows `cap` by re-subsampling the sorted
  * weighted stream.
  *
  * Like the MG twin, the summary is SELF-DESCRIBING about accuracy:
  * alongside the (v, w) rows it persists `n` (rows absorbed) and
  * `slack` (cumulative rank slack in ROWS). Every batch contributes
  * its construction envelope 2·(P+1)·t_b; every compaction
  * contributes its measured maximum merged-group weight (the exact
  * additional staleness a re-subsampled point can hide). Any rank
  * answered from the coreset is correct within ±slack — the bound is
  * carried, never assumed, because a stream cannot replay history to
  * exact-verify the way the batch path's certificate does.
  */
object StreamQuantile {

  /** Per-batch body: a stream's `foreachBatch` function, also called
    * directly (re-delivery tests, batch backfill through the
    * identical code path). Returns false at or
    * below the recorded high-water mark (see [[StreamMeta]]).
    */
  def applyBatch(batch: DataFrame, valueCol: String, path: String,
      batchId: Long, eps: Double = 0.01, cap: Int = 8192)(
      onBatch: (Long, Long) => Unit = (_, _) => ()): Boolean = {
    require(cap > 16, s"cap must exceed 16, got $cap")
    val spark = batch.sparkSession
    val apply = batchId > StreamMeta.lastApplied(spark, path)
    if (apply) {
      import spark.implicits._
      // batch-local coreset: 2(P+1)/ε rows by construction, so the
      // merges below are driver-sized on purpose (MG discipline)
      val (coreDf, batchN, t, p) = Sketches.quantileCoreset(
        batch.select(col(valueCol)), valueCol, eps)
      val batchCore = coreDf.as[(Double, Long)].collect().toSeq
      val batchSlack = 2L * (p + 1) * t
      val (prevCore, prevN, prevSlack) = read(spark, path)
      val n = prevN + batchN
      var core = prevCore ++ batchCore
      var slack = prevSlack + batchSlack
      if (core.length > cap) {
        val (compacted, introduced) = compact(core,
          math.max(1L, math.floor(eps * n / 4).toLong))
        core = compacted
        slack += introduced
      }
      // meta FIRST: a crash between the writes loses the batch (the
      // coreset stays internally consistent with its recorded n and
      // slack) instead of absorbing it twice on re-delivery — coreset
      // union is not idempotent. Same non-transactional-sink caveat
      // as StreamSketch.
      StreamMeta.writeLastApplied(spark, path, batchId)
      write(spark, path, core, n, slack)
      onBatch(batchId, slack)
    }
    apply
  }

  /** Re-subsample a sorted weighted coreset: walk by value order,
    * emit a merged point once the accumulated weight reaches `target`
    * (plus the remainder, so Σw is preserved exactly). The staleness
    * a merged point can hide from a rank query is bounded by the
    * LARGEST merged group's weight — measured and returned, not
    * estimated, so the caller's slack stays exact-side.
    */
  private[graft] def compact(core: Seq[(Double, Long)],
      target: Long): (Seq[(Double, Long)], Long) = {
    val sorted = core.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    var acc = 0L
    var maxGroup = 0L
    var last = 0.0
    for ((v, w) <- sorted) {
      acc += w; last = v
      if (acc >= target) {
        out += ((v, acc)); maxGroup = math.max(maxGroup, acc); acc = 0L
      }
    }
    if (acc > 0) { out += ((last, acc)); maxGroup = math.max(maxGroup, acc) }
    (out.toSeq, maxGroup)
  }

  /** The persisted coreset: (v, w) rows plus (n, slack) meta; empty
    * ONLY for a path no stream has written. Half-written state (the
    * crash-window signature) rethrows instead of masquerading as a
    * first run — resetting would zero the accumulated slack while the
    * high-water mark still advances (the StreamSketch.read rule).
    */
  def read(spark: SparkSession,
      path: String): (Seq[(Double, Long)], Long, Long) = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val corePath = new org.apache.hadoop.fs.Path(s"$path/coreset")
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/qmeta")
    val fs = corePath.getFileSystem(conf)
    val (haveCore, haveMeta) = (fs.exists(corePath), fs.exists(metaPath))
    if (!haveCore && !haveMeta) (Seq.empty, 0L, 0L)
    else if (haveCore != haveMeta)
      throw new IllegalStateException(
        s"quantile coreset at $path is half-written (coreset=$haveCore, " +
        s"qmeta=$haveMeta): refusing to reset the slack bound; " +
        "restore or delete BOTH parts to restart the sketch")
    else {
      val c = spark.read.parquet(s"$path/coreset").as[(Double, Long)]
        .collect().toSeq
      val m = spark.read.parquet(s"$path/qmeta").head()
      // TORN-write guard: write() overwrites coreset then qmeta; a
      // crash between the two leaves a NEW coreset under a STALE
      // (n, slack) — both parts exist, so the half-written check
      // above cannot see it. Σw == n is a construction invariant
      // (quantileCoreset's remainder points + compact's exact
      // weight preservation), so a mismatch IS the crash-window
      // signature and the carried ±slack contract would be silently
      // wrong — refuse like the half-written case.
      val sumW = c.map(_._2).sum
      if (sumW != m.getLong(0))
        throw new IllegalStateException(
          s"quantile coreset at $path is torn (coreset Σw=$sumW != " +
          s"recorded n=${m.getLong(0)}): crash between coreset and " +
          "qmeta writes; restore or delete BOTH parts to restart")
      (c, m.getLong(0), m.getLong(1))
    }
  }

  /** Quantile answers from the at-rest coreset with the carried
    * slack: any returned estimate's exact rank interval is within
    * ±slack_rows of its target rank.
    */
  def quantiles(spark: SparkSession, path: String,
      qs: Seq[Double]): DataFrame = {
    import spark.implicits._
    val (core, n, slack) = read(spark, path)
    Sketches.coresetQuantiles(core.toArray, n, qs)
      .map { case (q, est) => (q, est, slack, n) }
      .toDF("q", "estimate", "slack_rows", "n")
  }

  private def write(spark: SparkSession, path: String,
      core: Seq[(Double, Long)], n: Long, slack: Long): Unit = {
    import spark.implicits._
    core.toDF("v", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/coreset")
    Seq((n, slack)).toDF("n", "slack")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/qmeta")
  }
}
