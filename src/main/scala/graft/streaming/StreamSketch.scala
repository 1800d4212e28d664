package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Sketches

/** Streaming Misra-Gries frequency summary — the ingest-side twin of
  * `Sketches.heavyHitters`, same one-operator-for-ingest-and-backfill
  * pattern as `StreamIvf` / `StreamDedup`: each micro-batch sketches
  * itself (fixed memory per partition), merges into the persisted
  * at-rest summary via the mergeable-summaries rule (Agarwal et al.
  * 2012: add counters, subtract the (capacity+1)-th largest, keep
  * positives), and writes the summary back versioned-in-place.
  *
  * The summary is SELF-DESCRIBING about accuracy: alongside the
  * counters it persists `n` (rows absorbed) and `subtracted` (the
  * cumulative decrement mass). Every estimate is a LOWER bound and
  * `true ≤ est + subtracted`; any key whose true count exceeds
  * `subtracted` is guaranteed present. A batch backfill through
  * `Sketches.heavyHitters` can exact-verify candidates at rest; the
  * stream cannot replay history, so it carries its error bound
  * instead of pretending exactness.
  */
object StreamSketch {

  /** Per-batch body: a stream's `foreachBatch` function, also called
    * directly (re-delivery tests, batch backfill through the
    * identical code path). Returns false when
    * `batchId` is at or below the recorded high-water mark (the
    * at-least-once re-delivery guard, see [[StreamMeta]]).
    */
  def applyBatch(batch: DataFrame, keyCol: String, path: String,
      capacity: Int, batchId: Long)(
      onBatch: (Long, Long) => Unit = (_, _) => ()): Boolean = {
    require(capacity > 0, "capacity must be positive")
    val spark = batch.sparkSession
    val apply = batchId > StreamMeta.lastApplied(spark, path)
    if (apply) {
      import spark.implicits._
      val keys = batch.select(col(keyCol).cast("string").as("key"))
        .filter(col("key").isNotNull)
      val batchN = keys.count()
      // batch-local sketch: per-partition MG tables, collected in the
      // ONE action the loss accumulator is read after. Summaries are
      // ≤ partitions × capacity rows by construction, so every merge
      // below is driver-sized on purpose.
      val acc = spark.sparkContext.longAccumulator("graft.mg.loss")
      val parts = Sketches
        .misraGriesSummary(keys.as[String], capacity, Some(acc))
        .collect().toSeq
      val batchLoss = acc.value.longValue()
      val (batchSummary, sub1) = mergePrune(parts, capacity)
      val (prevDf, prevN, prevSub) = read(spark, path)
      val prevSummary =
        prevDf.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val (combined, sub2) =
        mergePrune(prevSummary ++ batchSummary, capacity)
      // the bound carries EVERY source of undercount: prior rounds'
      // mass, this batch's in-partition decrement events (each lowers
      // any key's count by ≤ 1), and both merge prunes
      val bound = prevSub + batchLoss + sub1 + sub2
      // meta FIRST: a crash between the two writes then LOSES the
      // batch (estimates stay true lower bounds, the primary
      // contract) instead of double-counting it on re-delivery
      // (which would break lower-bound-ness — counter merges are not
      // idempotent, unlike StreamIvf's appends). The window itself is
      // the standard non-transactional-sink caveat.
      StreamMeta.writeLastApplied(spark, path, batchId)
      write(spark, path, combined, prevN + batchN, bound)
      onBatch(batchId, bound)
    }
    apply
  }

  /** Counter-add then MG prune: if more than `capacity` keys remain,
    * subtract the (capacity+1)-th largest count from ALL and keep
    * positives — at most `capacity` survive, and the subtracted mass
    * is returned so the caller extends the error bound.
    */
  private def mergePrune(pairs: Seq[(String, Long)],
      capacity: Int): (Seq[(String, Long)], Long) = {
    val summed = pairs.groupMapReduce(_._1)(_._2)(_ + _)
    if (summed.size <= capacity) (summed.toSeq, 0L)
    else {
      val t = summed.values.toSeq.sorted(Ordering[Long].reverse)(capacity)
      (summed.iterator.map { case (k, c) => k -> (c - t) }
        .filter(_._2 > 0).toSeq, t)
    }
  }

  /** The persisted summary: (key, est) plus (n, subtracted) meta;
    * empty ONLY for a path no stream has written. A path that exists
    * but fails to read (corrupt file, the documented crash window
    * where sketch_meta landed but summary did not) RETHROWS instead of
    * masquerading as a first run — silently resetting would overwrite
    * history and zero the accumulated `subtracted` bound, breaking the
    * `true ≤ est + subtracted` contract while the high-water mark
    * still advances.
    */
  def read(spark: SparkSession,
      path: String): (DataFrame, Long, Long) = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val sumPath = new org.apache.hadoop.fs.Path(s"$path/summary")
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/sketch_meta")
    val fs = sumPath.getFileSystem(conf)
    val (haveSum, haveMeta) = (fs.exists(sumPath), fs.exists(metaPath))
    if (!haveSum && !haveMeta)
      (Seq.empty[(String, Long)].toDF("key", "cnt"), 0L, 0L)
    else if (haveSum != haveMeta)
      // half-written state IS the crash-window signature — name it
      throw new IllegalStateException(
        s"MG sketch at $path is half-written (summary=$haveSum, " +
        s"sketch_meta=$haveMeta): refusing to reset the error bound; " +
        "restore or delete BOTH parts to restart the sketch")
    else {
      val s = spark.read.parquet(s"$path/summary")
      val m = spark.read.parquet(s"$path/sketch_meta").head()
      (s, m.getLong(0), m.getLong(1))
    }
  }

  /** Top-k of the at-rest summary with its error bound column —
    * counts are lower bounds, `est + bound` the upper.
    */
  def topK(spark: SparkSession, path: String, k: Int): DataFrame = {
    val (s, _, sub) = read(spark, path)
    s.orderBy(desc("cnt"), asc("key")).limit(k)
      .select(col("key"), col("cnt").as("est"), lit(sub).as("bound"))
  }

  private def write(spark: SparkSession, path: String,
      summary: Seq[(String, Long)], n: Long, subtracted: Long): Unit = {
    import spark.implicits._
    summary.toDF("key", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/summary")
    Seq((n, subtracted)).toDF("n", "subtracted")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/sketch_meta")
  }
}
