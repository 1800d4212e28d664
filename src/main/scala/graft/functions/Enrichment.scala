package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-enrichment stages (SURVEY E3/E4): the reference declares
  * `EventEnricher` / `TransformStage` traits (dead code,
  * stream_transform.rs:75-108, :388-600); the Spark-native forms are
  * `withColumn` stages composed with `Dataset.transform`, and
  * lookup enrichment as a broadcast-map join.
  */
object Enrichment {

  /** E3: lookup enrichment — broadcast the (small) mapping table and
    * left-join; rows with no mapping keep NULL (a real pipeline would
    * route them to quarantine).
    */
  def withLookup(df: DataFrame, keyCol: String, mapping: DataFrame,
      mapKey: String): DataFrame =
    df.join(broadcast(mapping), df(keyCol) === mapping(mapKey), "left")
      .drop(mapping(mapKey))

  /** E3: derived-metadata enrichment from a column expression. */
  def withDerived(df: DataFrame, outCol: String, expr: Column): DataFrame =
    df.withColumn(outCol, expr)

  /** E4: a transform pipeline — stages compose left-to-right via
    * Dataset.transform, each stage a plain DataFrame => DataFrame.
    */
  def pipeline(stages: (DataFrame => DataFrame)*): DataFrame => DataFrame =
    df => stages.foldLeft(df)((acc, stage) => acc.transform(stage))

  /** Skew-aware join (SURVEY §2 "salting for skew"): explode the
    * small side over `salts` buckets, salt the large side per-row,
    * join on (key, salt). Turns one hot key's partition into `salts`
    * partitions. AQE's skew-join handles moderate skew automatically;
    * this is the explicit tool for pathological keys.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      salts: Int): DataFrame = {
    val saltedLarge = large.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts)))
    val saltedSmall = small
      .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
      .withColumn("__salt", col("__salt").cast("long"))
    saltedLarge.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }
}
