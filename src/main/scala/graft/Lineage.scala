package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.AccumulatorV2

/** Lineage cuts: the one place graft decides how a frame's lineage is
  * truncated. Iterative loops (CC rounds, BFS frontiers, SCC peeling,
  * k-core shaving), view folds, store commits and streaming batch
  * bodies all cut through here; no other main-code file calls
  * `localCheckpoint` or `checkpoint`. Every cut is at least one Spark
  * job, and the per-job floor — not data — dominates small loops, so
  * the kinds differ in WHEN that job runs and what rides on it:
  *
  *  - EAGER (`df.cut(reliable)`): materialized before the call
  *    returns. Every frame handed to `catalog.put` and every store
  *    commit (`GraphStore.truncated`) cuts eagerly — the put boundary
  *    is the state's materialization contract.
  *  - LAZY ([[lazyCut]]): marked now, materialized by the first later
  *    action that reads it. Safe exactly when some later action in the
  *    same fold touches the frame before its INPUTS are unpersisted —
  *    inside a fold every input is a materialized checkpoint, so a
  *    deferred materialization never re-derives through the catalog's
  *    replaced state.
  *  - COUNTED ([[cutCount]]): locally, a lazy mark plus ONE count job
  *    of the checkpoint's RDD ([[rowCount]]); the first action on a
  *    lazily marked checkpoint materializes it, so the count IS the
  *    materialization. A loop that reads its round sizes (frontier,
  *    peel set, changed labels) gets them with the cut, where an
  *    eager cut followed by `count()` paid two scheduler round-trips
  *    per round (r12 verdict #4). On a real cluster each saved job is
  *    a driver→executor round-trip; at view-catalog scale (hundreds of
  *    views per batch) the job count is the refresh latency floor.
  *    What runs under AQE: creating the checkpoint plans the frame
  *    adaptively, which already runs its shuffle-map (and broadcast)
  *    stages as their own jobs; the count is then the one job of the
  *    final stage.
  *  - PARTITION-CARRYING ([[partitionedCkpt]], [[preservedCkpt]]): a
  *    counted or lazy cut planned with AQE off ([[aqeOff]]) so the
  *    plan's partitioning and ordering survive into the checkpoint and
  *    later equi-joins on those keys plan no exchange on this side.
  *  - RELEASE ([[freeCut]]): drop a cut frame's blocks now instead of
  *    at the next GC.
  *
  * Local vs reliable: local mode (`localCheckpoint`) is fastest, but
  * its blocks live in executor storage and die with an executor. A
  * long-lived cluster job sets the session's checkpoint dir once with
  * Spark's own `sc.setCheckpointDir(dir)`; the iterative operators
  * (reachability, BFS, k-core, SCC, PageRank family, betweenness,
  * cluster resolve) read [[reliable]] once at entry and then cut with
  * the RELIABLE `checkpoint`, which writes HDFS/object-store files
  * that survive executor loss — same plan-flattening effect, durable
  * blocks. Lazy and partition-carrying cuts are local only (view
  * folds run in one session's lifetime), and so are store commits,
  * louvain, neighborhoodFunction and labelPropagation.
  *
  * Every lazy local cut keeps the SQL metrics of the plan it marked
  * alive as long as the checkpoint's RDD ([[pinMetrics]]).
  */
object Lineage {

  /** True when the session has a checkpoint dir, so an operator's
    * cuts are reliable. Only the user sets the dir
    * (`sc.setCheckpointDir`); no graft code writes it. Operators read
    * this once at entry.
    *
    * Checkpoint files are only reclaimed when the session was built
    * with `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    * (GraftSession sets it; Spark's default is false and the
    * ContextCleaner reads it once at startup) — an iterative loop
    * writes one frame per round, so without cleanup a deep job leaks
    * O(rounds × frame size) of durable storage. Warn rather than
    * fail: the files are orphaned, not wrong.
    */
  def reliable(spark: SparkSession): Boolean = {
    val sc = spark.sparkContext
    val rel = sc.getCheckpointDir.isDefined
    if (rel && !sc.getConf.getBoolean(
        "spark.cleaner.referenceTracking.cleanCheckpoints", false))
      System.err.println("[graft] reliable checkpointing without " +
        "spark.cleaner.referenceTracking.cleanCheckpoints=true (set at " +
        "session build): per-round checkpoint files will not be reclaimed")
    rel
  }

  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    /** EAGER cut: reliable `checkpoint()` when `reliable`,
      * `localCheckpoint()` otherwise.
      */
    def cut(reliable: Boolean): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
  }

  /** COUNTED cut: the cut frame and its row count, for one job in local
    * mode. Reliable mode writes the checkpoint eagerly, then counts
    * the written RDD: two jobs and one computation of the frame. (A
    * lazy reliable mark plus the count is two jobs as well, but the
    * write job Spark runs after the count recomputes the unpersisted
    * frame.)
    */
  def cutCount(df: DataFrame, reliable: Boolean = false): (DataFrame, Long) = {
    val c = if (reliable) df.checkpoint() else lazyCut(df)
    (c, rowCount(c))
  }

  /** Rows of a checkpointed frame in ONE job — for a lazy mark, the
    * job that also materializes its blocks: a count of the
    * checkpoint's RDD. `Dataset.count` would plan an aggregate with
    * its own shuffle stage over the scan — under AQE a second job.
    */
  private[graft] def rowCount(ckpt: DataFrame): Long =
    ckpt.queryExecution.toRdd.count()

  /** LAZY local cut (see the class doc for when it is safe). */
  def lazyCut(df: DataFrame): DataFrame =
    pinMetrics(df, df.localCheckpoint(false))

  /** AQE-off scope for creating PARTITION-CARRYING checkpoints.
    * Dataset.localCheckpoint captures the physical plan's
    * outputPartitioning/outputOrdering into the returned LogicalRDD —
    * but only usefully with AQE off at CREATION time: under AQE the
    * captured partitioning degrades to unknown (measured by the r12
    * partition probe, see OPTIMIZATION_r13.md, Retired diagnostics —
    * consumers plan an ENSURE_REQUIREMENTS
    * exchange over the checkpointed scan with AQE on at creation,
    * and no exchange / no sort with it off). The scope covers only
    * the checkpoint's own planning; consumer queries keep AQE.
    */
  private val aqeLock = new Object
  private def aqeOff[A](spark: SparkSession)(f: => A): A =
    // the conf is SESSION-global: two concurrent maintainers (the
    // batch journal's foreachBatch use case) racing on set/restore
    // could capture an AQE-degraded layout into a checkpoint or
    // leave AQE off session-wide. Serialized under one monitor —
    // callers scope `f` to PLANNING only (a lazy localCheckpoint
    // builds its LogicalRDD at call time; materialization happens
    // outside the lock), so the critical section holds no jobs.
    aqeLock.synchronized {
      val key = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(key, "true")
      spark.conf.set(key, "false")
      try f finally spark.conf.set(key, prev)
    }

  /** One state-sized shuffle that buys shuffle-free membership joins
    * for every later fold round and refresh: hash-partition + sort on
    * `keyCols`, cut with the layout carried into the LogicalRDD
    * ([[aqeOff]]). EnsureRequirements then plans every equi/semi/anti
    * join on these keys with NO exchange and NO sort on this side —
    * only the window-sized probe side shuffles. The lazy mark is
    * planned under the AQE-off lock; the ONE count job (outside the
    * lock) both materializes it and yields the row count, so callers
    * get the frame's cardinality with the cut.
    */
  def partitionedCkpt(df: DataFrame, keyCols: Seq[String])
      : (DataFrame, Long) = {
    val c = aqeOff(df.sparkSession) {
      lazyCut(df.repartition(keyCols.map(col): _*)
        .sortWithinPartitions(keyCols.map(col): _*))
    }
    (c, rowCount(c))
  }

  /** Lazy cut of a frame DERIVED from a partitioned checkpoint by
    * layout-preserving operators (broadcast joins, filters, alias
    * projections) — the carried partitioning/ordering survives into
    * the new checkpoint (partition probe case 3, same table), so a
    * filtered core keeps serving exchange-free joins.
    */
  def preservedCkpt(df: DataFrame): DataFrame =
    aqeOff(df.sparkSession) { lazyCut(df) }

  /** Explicitly release the storage behind a cut frame (the
    * checkpointed RDD a `cut` left persisted). Dropping the reference
    * and waiting for the ContextCleaner works too, but only at a GC —
    * an iterative operator holding many per-round frames (betweenness
    * level frames: hops × Σ-reach rows) can OOM on the backlog first,
    * the same hazard the span fixpoint's memory rotation closes.
    * UNSAFE unless every plan that reads `df` has been materialized
    * (cut/persisted downstream): a cut frame has no lineage to
    * recompute from, so unpersisting under a live lazy reader loses
    * the data, not just the cache.
    */
  def freeCut(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The SQL metrics of each lazily cut plan, held for as long as the
    * cut's RDD is reachable (weak keys: RDDs compare by identity, and
    * a metric refers to no RDD).
    */
  private val pinned =
    new java.util.WeakHashMap[RDD[_], Seq[AccumulatorV2[_, _]]]()

  /** Keep `origin`'s SQL metrics alive as long as the lazy cut `ckpt`.
    * A stage that reads `ckpt` before it is materialized ships the
    * marked plan — metrics included — in its task binary. When
    * another job materializes `ckpt` first, Spark drops that plan from
    * the RDD's lineage, the metrics become garbage, and the
    * ContextCleaner unregisters them; the earlier stage's tasks then
    * report updates for accumulators the driver no longer knows
    * (`ERROR DAGScheduler: Failed to update accumulator`, seen on view
    * folds whose AQE stages read one lazy frame concurrently). Any
    * such stage still refers to the cut's RDD, so pinning the metrics
    * to that RDD covers it; no job is added.
    */
  private def pinMetrics(origin: DataFrame, ckpt: DataFrame): DataFrame = {
    val metrics = planMetrics(origin.queryExecution.executedPlan)
    ckpt.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => pinned.synchronized(pinned.put(l.rdd, metrics))
      case _ => ()
    }
    ckpt
  }

  private def planMetrics(p: SparkPlan): Seq[AccumulatorV2[_, _]] = {
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children
    }
    p.metrics.values.toSeq ++ (children ++ p.subqueries).flatMap(planMetrics)
  }
}
