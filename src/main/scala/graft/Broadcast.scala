package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The broadcast license: the one place graft decides whether a
  * counted frame may be broadcast or collected to the driver.
  * Iterative loops (BFS frontiers, SCC and k-core peels, CC labels),
  * view folds, GQL shortest-path joins and the count-gated driver
  * finishes (SCC, Louvain) all ask here; no other main-code file
  * reads `spark.sql.autoBroadcastJoinThreshold`.
  *
  * Frames behind a lineage cut carry no statistics, so the planner's
  * fallback for them is a sort-merge join that shuffles the big side
  * every round. An exact row count licenses forcing the hash-join
  * build side instead, and an explicit hint is obeyed regardless of
  * byte size, so the license is a BYTE budget turned into rows by
  * the frame's own row width: a row count must track the row shape.
  * There is no caller ceiling; the session threshold is the policy.
  */
object Broadcast {

  /** Rows of `df`'s shape that fit the session's broadcast budget:
    * `spark.sql.autoBroadcastJoinThreshold` divided by the schema's
    * estimated row width (at least 8 bytes). A disabled threshold
    * (-1/0) falls back to the byte budget of the Spark default
    * (10 MB); a threshold below one row's width licenses 0 rows.
    */
  def budget(df: DataFrame): Long = {
    val threshold =
      df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val bytes = if (threshold > 0) threshold else 10L << 20
    bytes / math.max(df.schema.defaultSize.toLong, 8L)
  }

  /** True when `rows` rows of `df`'s shape fit [[budget]]. */
  def fits(df: DataFrame, rows: Long): Boolean = rows <= budget(df)

  /** `df` with a broadcast hint when `rows` [[fits]]. */
  def hint(df: DataFrame, rows: Long): DataFrame =
    if (fits(df, rows)) broadcast(df) else df
}
