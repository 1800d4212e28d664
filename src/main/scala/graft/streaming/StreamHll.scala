package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Sketches
import graft.Lineage.CutOps

/** Streaming HLL distinct-count index — the ingest-side twin of
  * `Sketches.hllIndex`, same one-operator-for-ingest-and-backfill
  * pattern as StreamIvf / StreamDedup / StreamSketch: each
  * micro-batch sketches itself per group and max-merges into the
  * persisted index, so "distinct users per group since forever" is
  * servable at any moment by merging a KB-sized sketch table
  * ([[serve]]) without ever replaying the stream.
  *
  * Durability contract — NOTE the write order is the OPPOSITE of
  * StreamSketch's, for the opposite reason: HLL union max-merges
  * registers, so re-absorbing the same batch is mathematically a
  * NO-OP (register-wise max is idempotent), while MG counter adds
  * double-count. The index therefore writes FIRST and the high-water
  * mark second: a crash between the two re-delivers the batch, whose
  * re-merge changes nothing — no history lost (the MG failure mode),
  * no double count (the MG hazard). The mark still exists to keep
  * re-delivered batches from burning work.
  */
object StreamHll {

  /** Per-batch body: a stream's `foreachBatch` function, also called
    * directly (re-delivery tests, batch backfill through the
    * identical code path). Returns false for a
    * batchId at or below the high-water mark.
    */
  def applyBatch(batch: DataFrame, keyCol: String, groupCols: Seq[String],
      path: String, lgK: Int, batchId: Long)(
      onBatch: Long => Unit = _ => ()): Boolean = {
    val spark = batch.sparkSession
    val apply = batchId > StreamMeta.lastApplied(spark, path)
    if (apply) {
      val batchIdx = Sketches.hllIndex(batch, keyCol, groupCols, lgK)
      val merged = readIndex(spark, path) match {
        case None => batchIdx
        case Some(prev) =>
          prev.unionByName(batchIdx)
            .groupBy(groupCols.map(col): _*)
            .agg(hll_union_agg(col("hll")).as("hll"),
              sum("rows").as("rows"))
      }
      // materialize BEFORE the overwrite — the merge plan reads the
      // same parquet it is about to replace, and the index is tiny
      // (groups × ≤2^lgK registers) by design
      merged.cut(reliable = false)
        .write.mode("overwrite").parquet(s"$path/index")
      StreamMeta.writeLastApplied(spark, path, batchId)
      onBatch(batchId)
    }
    apply
  }

  /** The persisted index (None before any batch). */
  def readIndex(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/index")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(spark.read.parquet(s"$path/index"))
    else None
  }

  /** Serve approximate distinct counts from the at-rest index at any
    * coarser grouping (`Nil` = global) — zero stream replay, zero
    * base-table scan.
    */
  def serve(spark: SparkSession, path: String,
      groupCols: Seq[String]): DataFrame =
    readIndex(spark, path) match {
      case Some(idx) => Sketches.hllRollup(idx, groupCols)
      case None => throw new IllegalStateException(
        s"no HLL index at $path — no batch has been applied yet")
    }
}
