package graft.algorithms

import org.apache.spark.graphx.{Edge, EdgeDirection, Graph, Pregel, TripletFields, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Broadcast
import graft.Lineage.{CutOps, cutCount}

/** Batch graph algorithms (SURVEY §2.8) on GraphX/Pregel.
  *
  * Inputs are narrow DataFrames — vertices(id), edges(src, dst[,
  * weight]) — converted to RDDs only at the GraphX boundary with
  * minimal attributes (the DataFrame↔RDD hop is the perf cliff; keep
  * it to two longs + a double). All algorithms partition the edge RDD
  * and iterate via aggregateMessages/Pregel, so at cluster scale the
  * shuffle per iteration is bounded by the message volume, not the
  * graph size.
  *
  * Semantics mirror graph/algorithms/src/basic.rs: PageRank uses
  * `new = (1−d)/n + d·Σ(in_score/out_deg)` with uniform 1/n init
  * (basic.rs:46-131 — the /n-normalized variant, which the survey
  * flags as the one to adopt); connected components return the min
  * vertex id per component; Dijkstra carries (dist, pred) for path
  * reconstruction (basic.rs:277-340). The reference's FIFO-"Dijkstra"
  * bug (incremental_engine.rs:1233) is intentionally NOT replicated.
  *
  * Every count-gated broadcast hint and driver-local finish in the
  * frontier and peel loops asks the session's broadcast license
  * ([[graft.Broadcast]]): the exact count of a cut frame against the
  * byte budget over that frame's row width.
  */
object Algorithms {

  /** True when `df` is a pure projection over an already-cached (or
    * driver-local) relation — the cases where re-persisting would
    * duplicate a cache that already serves scans cheaply. Anything
    * else — a filter, join, aggregate, or a projection COMPUTING
    * expressions (a re-executed-per-round cost the persist exists to
    * pay once) — returns false.
    */
  private[graft] def servedFromCache(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
    def pure(p: LogicalPlan): Boolean = p match {
      case _: InMemoryRelation => true
      case _: LocalRelation => true
      case pr: Project if pr.projectList.forall {
        case _: AttributeReference => true
        case a: Alias => a.child.isInstanceOf[AttributeReference]
        case _ => false
      } => pure(pr.child)
      case _ => false
    }
    pure(df.queryExecution.optimizedPlan)
  }

  private def edgeRDD(edges: DataFrame, undirected: Boolean): RDD[Edge[Double]] = {
    val hasW = edges.columns.contains("weight")
    val base = if (hasW) edges.select(col("src"), col("dst"), col("weight").cast("double"))
    else edges.select(col("src"), col("dst"), lit(1.0))
    val rdd = base.rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    if (undirected) rdd.flatMap(e => Iterator(e, Edge(e.dstId, e.srcId, e.attr))) else rdd
  }

  private def vertexRDD(vertices: DataFrame): RDD[(VertexId, Int)] =
    vertices.select(col("id")).rdd.map(r => (r.getLong(0), 1))

  /** EdgePartition2D bounds each vertex's replication to 2·sqrt(P)
    * partitions — the partitioning that keeps Pregel shuffle volume
    * sublinear in degree skew at cluster scale.
    */
  def makeGraph(vertices: DataFrame, edges: DataFrame, undirected: Boolean): Graph[Int, Double] =
    Graph(vertexRDD(vertices), edgeRDD(edges, undirected), 1,
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)

  private def toDF(spark: SparkSession, rdd: RDD[(VertexId, Double)],
      valueName: String): DataFrame = {
    import spark.implicits._
    rdd.toDF("id", valueName)
  }

  /** G1: PageRank, fixed-iteration power method with the reference's
    * exact semantics (basic.rs:46-131): init 1/n, update
    * `(1−d)/n + d·Σ(in_score/out_deg)`, no dangling-mass
    * redistribution, no final normalization (GraphX's staticPageRank
    * L1-normalizes the result — SPARK-18847 — so it can't be used
    * for parity).
    *
    * The loop follows GraphX's internal PageRank persistence pattern:
    * cache the new graph, materialize its edges (which materializes
    * the replicated vertex view), only then unpersist the previous
    * iteration — otherwise every iteration recomputes the full
    * lineage and runtime explodes exponentially.
    */
  def pageRank(vertices: DataFrame, edges: DataFrame,
      damping: Double = 0.85, numIter: Int = 10,
      undirected: Boolean = false): DataFrame = {
    val spark = vertices.sparkSession
    val n = vertices.count().toDouble
    val g0 = makeGraph(vertices, edges, undirected)
    var rankGraph: Graph[Double, Double] = g0
      .outerJoinVertices(g0.outDegrees) { (_, _, deg) => deg.getOrElse(0) }
      .mapTriplets(e => 1.0 / e.srcAttr, TripletFields.Src)
      .mapVertices((_, _) => 1.0 / n)
    var iteration = 0
    while (iteration < numIter) {
      rankGraph.cache()
      val rankUpdates = rankGraph.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr * ctx.attr), _ + _, TripletFields.Src)
      val prev = rankGraph
      rankGraph = rankGraph.outerJoinVertices(rankUpdates) {
        (_, _, msg) => (1.0 - damping) / n + damping * msg.getOrElse(0.0)
      }.cache()
      rankGraph.edges.foreachPartition(_ => ()) // materialize before unpersist
      prev.vertices.unpersist()
      prev.edges.unpersist()
      iteration += 1
    }
    toDF(spark, rankGraph.vertices, "score")
  }

  /** G2: incremental PageRank refresh — power iteration WARM-STARTED
    * from the previous fixpoint with an L1-convergence stop. After a
    * small graph delta the prior scores are a near-solution, so
    * iterations-to-converge scale with the perturbation, not the
    * graph (the reference recomputes from scratch per refresh,
    * incremental_engine.rs G2 path — this is the genuinely
    * incremental form its name promises). Same reference-exact
    * recurrence as `pageRank`; vertices absent from `priorScores`
    * (newly added) start at 1/n.
    */
  def pageRankIncremental(vertices: DataFrame, edges: DataFrame,
      priorScores: DataFrame, damping: Double = 0.85,
      tol: Double = 1e-7, maxIter: Int = 50,
      undirected: Boolean = false): DataFrame = {
    val spark = vertices.sparkSession
    val n = vertices.count().toDouble
    val prior = priorScores.select(col("id"), col("score"))
      .rdd.map(r => (r.getLong(0), r.getDouble(1)))
    val g0 = makeGraph(vertices, edges, undirected)
    var rankGraph: Graph[Double, Double] = g0
      .outerJoinVertices(g0.outDegrees) { (_, _, deg) => deg.getOrElse(0) }
      .mapTriplets(e => 1.0 / e.srcAttr, TripletFields.Src)
      .outerJoinVertices(org.apache.spark.graphx.VertexRDD(prior)) {
        (_, _, s) => s.getOrElse(1.0 / n)
      }
    var iteration = 0
    var delta = Double.PositiveInfinity
    while (iteration < maxIter && delta > tol) {
      rankGraph.cache()
      val rankUpdates = rankGraph.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr * ctx.attr), _ + _, TripletFields.Src)
      val prev = rankGraph
      rankGraph = rankGraph.outerJoinVertices(rankUpdates) {
        (_, _, msg) => (1.0 - damping) / n + damping * msg.getOrElse(0.0)
      }.cache()
      rankGraph.edges.foreachPartition(_ => ()) // materialize before unpersist
      delta = prev.vertices.join(rankGraph.vertices)
        .map { case (_, (a, b)) => math.abs(a - b) }
        .fold(0.0)(_ + _)
      prev.vertices.unpersist()
      prev.edges.unpersist()
      iteration += 1
    }
    toDF(spark, rankGraph.vertices, "score")
  }

  /** G3/G4: connected components (min-label propagation; GraphX
    * treats the edge set as undirected by messaging both directions).
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    makeGraph(vertices, edges, undirected = false)
      .connectedComponents().vertices
      .map { case (id, comp) => (id, comp) }.toDF("id", "component")
  }

  /** G5/G7: single-source shortest paths with (dist, pred) state —
    * weighted Dijkstra semantics with vote-to-halt convergence,
    * unweighted = BFS hop count. Unreachable vertices are dropped.
    *
    * `target`: optional early termination (basic.rs:299-305 stops
    * popping when the target settles). The BSP analogue: once
    * dist(target) ≤ the minimum pending relaxation distance, no
    * future message can improve the target OR any vertex on its
    * shortest path (non-negative weights: improving a vertex at
    * dist ≤ d(target) would need a message strictly below it, but
    * every pending message is ≥ that minimum) — so the loop halts
    * with the target's distance and full predecessor chain final.
    * Distances of vertices farther than the target may be unsettled;
    * callers wanting the full map pass target = None.
    */
  def sssp(vertices: DataFrame, edges: DataFrame, source: Long,
      undirected: Boolean = false, maxIter: Int = Int.MaxValue,
      target: Option[Long] = None): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val init = makeGraph(vertices, edges, undirected)
      .mapVertices((id, _) =>
        if (id == source) (0.0, -1L) else (Double.PositiveInfinity, -1L))

    def sendMsg(t: org.apache.spark.graphx.EdgeTriplet[(Double, Long), Double]) =
      if (t.srcAttr._1 + t.attr < t.dstAttr._1 - 1e-12)
        Iterator((t.dstId, (t.srcAttr._1 + t.attr, t.srcId)))
      else Iterator.empty
    def mergeMsg(a: (Double, Long), b: (Double, Long)) = if (a._1 <= b._1) a else b

    val res = target match {
      case None =>
        Pregel(init, (Double.PositiveInfinity, -1L), maxIter, EdgeDirection.Out)(
          (_, attr, msg) => if (msg._1 < attr._1) msg else attr,
          sendMsg, mergeMsg).vertices
      case Some(tgt) =>
        // Manual BSP loop (same relaxation as the Pregel branch) with
        // the per-round halt check; follows GraphX's cache/
        // materialize/unpersist iteration pattern.
        var g = init.cache()
        var msgs = g.aggregateMessages[(Double, Long)](
          ctx => sendMsg(ctx.toEdgeTriplet).foreach(m => ctx.sendToDst(m._2)),
          mergeMsg).cache()
        var active = msgs.count()
        var iter = 0
        var halted = false
        while (active > 0 && iter < maxIter && !halted) {
          val tDist = g.vertices.lookup(tgt).headOption.map(_._1)
            .getOrElse(Double.PositiveInfinity)
          val minPending = msgs.map(_._2._1).fold(Double.PositiveInfinity)(math.min)
          if (tDist <= minPending) halted = true
          else {
            val prev = g
            val prevMsgs = msgs
            g = g.outerJoinVertices(msgs) { (_, attr, m) =>
              m.filter(_._1 < attr._1).getOrElse(attr)
            }.cache()
            g.edges.foreachPartition(_ => ())
            msgs = g.aggregateMessages[(Double, Long)](
              ctx => sendMsg(ctx.toEdgeTriplet).foreach(m => ctx.sendToDst(m._2)),
              mergeMsg).cache()
            active = msgs.count()
            prev.vertices.unpersist(); prev.edges.unpersist()
            prevMsgs.unpersist()
            iter += 1
          }
        }
        g.vertices
    }
    res
      .filter { case (_, (d, _)) => !d.isInfinite }
      .map { case (id, (d, pred)) => (id, d, pred) }
      .toDF("id", "dist", "pred")
  }

  /** Path reconstruction from an sssp result (basic.rs:313-330):
    * walk predecessors target→source with POINT LOOKUPS against the
    * (persisted) result frame — O(path length) driver memory and
    * jobs, never an O(V) collect, so it survives graphs whose
    * vertex set dwarfs the driver.
    */
  def reconstructPath(ssspResult: DataFrame, source: Long, target: Long,
      maxLen: Int = 100000): Seq[Long] = {
    val slim = ssspResult.select(col("id"), col("pred"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val path = scala.collection.mutable.ArrayBuffer(target)
      var cur = target
      while (cur != source && path.length <= maxLen) {
        val row = slim.filter(col("id") === cur).select("pred").take(1)
        if (row.isEmpty) return Nil // fell off the settled set: unreachable
        val pred = row(0).getLong(0)
        if (pred == -1L) return if (cur == source) path.toSeq else Nil
        cur = pred
        path.prepend(cur)
      }
      if (path.head == source) path.toSeq else Nil
    } finally slim.unpersist(blocking = false)
  }

  /** G8: forward reachability from a source set — iterative frontier
    * expansion, accumulating visited. DataFrame loop with lineage
    * truncation per round (reliable when the session has a checkpoint
    * dir — see [[graft.Lineage.reliable]]).
    *
    * Same join-side economics as [[multiSourceBfs]]: checkpointed
    * frontiers are stats-less, so without a hint every round
    * sort-merge-shuffles the full edge set. Exact frontier/visited
    * counts (cheap on materialized checkpoints) drive broadcast
    * hints; the edge projection is persisted only when the input
    * isn't already cache-backed; the cumulative visited set stays a
    * lazy union of the once-cut frontiers.
    */
  def reachability(edges: DataFrame, sources: Seq[Long], maxIter: Int = 50)
      : DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val rel = graft.Lineage.reliable(edges.sparkSession)
    val e0 = edges.select(col("src"), col("dst"))
    val inputServedCheaply = servedFromCache(e0)
    val e = if (inputServedCheaply) e0
      else e0.persist(StorageLevel.MEMORY_AND_DISK)
    var ePart: DataFrame = null
    def eSmj(): DataFrame = {
      if (ePart == null)
        ePart = e.repartition(col("src")).sortWithinPartitions("src")
          .persist(StorageLevel.MEMORY_AND_DISK)
      ePart
    }
    // distinct BEFORE the first cut (mirrors multiSourceBfs): duplicate
    // seed ids would duplicate every visited row and inflate the exact
    // frontier/visited counts the broadcast gating relies on
    var (visited, visitedCount) = cutCount(sources.distinct.toDF("id"), rel)
    var frontier = visited
    try {
      var frontierCount = visitedCount
      var iter = 0
      var done = frontierCount == 0L
      while (!done && iter < maxIter) {
        val small = Broadcast.fits(frontier, frontierCount)
        val fr = if (small) broadcast(frontier) else frontier
        val eSide = if (small) e else eSmj()
        val visSide = Broadcast.hint(visited, visitedCount)
        val (next, cnt) = cutCount(fr.join(eSide, fr("id") === eSide("src"))
          .select(eSide("dst").as("id")).distinct()
          .join(visSide, Seq("id"), "left_anti"), rel)
        if (cnt == 0L) done = true
        else {
          visited = visited.union(next)
          visitedCount += cnt
          frontier = next
          frontierCount = cnt
        }
        iter += 1
      }
      visited
    } finally {
      if (!inputServedCheaply) e.unpersist(blocking = false)
      if (ePart != null) ePart.unpersist(blocking = false)
    }
  }

  /** Multi-source BFS hop counts: ONE DataFrame frontier loop serves
    * the whole source SET simultaneously — state is (source, id,
    * hops) keyed by the pair, each round joins the frontier to the
    * edge list and anti-joins the visited set, so first visit = BFS
    * minimum. This is the bulk form of unweighted `sssp`: a driver
    * loop of per-source Pregel runs costs a GraphX build (vertex/edge
    * RDD conversion + partitionBy shuffle) PER SOURCE, where this
    * pays `maxHops` equi-joins total for any number of sources —
    * the shape that survives a thousand-seed batch at cluster scale.
    * Sources: a single-column (`id`) frame; output rows include the
    * seeds at hops 0. Rounds are lineage-truncated (reliably when the
    * session has a checkpoint dir).
    *
    * Join-side economics (the part AQE cannot fix here): each round's
    * frontier is a checkpointed frame with no catalog stats, so the
    * planner's default is a sort-merge join that SHUFFLES the full
    * edge set every round — and AQE only downgrades to broadcast
    * after the edge map stage has already been written. The loop
    * instead tracks exact frontier/visited counts (one cheap count
    * on each already-materialized checkpoint) and broadcast-hints any
    * side the broadcast license admits ([[graft.Broadcast.fits]]), so
    * a selective BFS never shuffles the edge list at all — each round
    * is one in-memory edge scan. When a frontier outgrows the license
    * (a thousand-seed batch on a dense graph), the edge set is
    * re-partitioned by `src` and sorted ONCE, lazily, so the remaining
    * sort-merge rounds exchange and sort only the frontier side.
    */
  def multiSourceBfs(edges: DataFrame, sources: DataFrame, maxHops: Int,
      undirected: Boolean = false): DataFrame = {
    val rel = graft.Lineage.reliable(edges.sparkSession)
    val e0 = edges.select(col("src"), col("dst"))
    // Persist the edge projection only when it is a pure projection
    // of an already-cached (or driver-local) relation:
    // re-materializing an already-cached multi-million-row edge list
    // into a second cache copy costs more than the whole loop reads.
    // Anything beyond Project over a cached leaf — a filter, a join,
    // an aggregate — must still persist, or every round would
    // re-execute it (twice per round when undirected).
    val inputServedCheaply = servedFromCache(e0)
    val e = if (inputServedCheaply) e0
      else e0.persist(StorageLevel.MEMORY_AND_DISK)
    // The undirected edge set is two scans of `e`, never a
    // materialized doubled copy.
    def expand(fr: DataFrame): DataFrame = {
      val fwd = fr.join(e, fr("id") === e("src"))
        .select(fr("source"), e("dst").as("id"))
      if (!undirected) fwd
      else fwd.unionByName(fr.join(e, fr("id") === e("dst"))
        .select(fr("source"), e("src").as("id")))
    }
    // Lazily built big-frontier variant: the DOUBLED set,
    // hash-partitioned on src and sorted within partitions, so every
    // SMJ round elides the e-side exchange AND sort
    // (InMemoryTableScan preserves both).
    var ePart: DataFrame = null
    def eSmj(): DataFrame = {
      if (ePart == null)
        ePart = (if (undirected)
            e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
          else e)
          .repartition(col("src")).sortWithinPartitions("src")
          .persist(StorageLevel.MEMORY_AND_DISK)
      ePart
    }
    def expandSmj(fr: DataFrame): DataFrame = {
      val ep = eSmj()
      fr.join(ep, fr("id") === ep("src"))
        .select(fr("source"), ep("dst").as("id"))
    }
    // distinct(): the per-(source, vertex) output contract must hold
    // even for a seed frame with duplicate ids (hop-0 rows never pass
    // through the per-round distinct below).
    var (visited, visitedCount) = cutCount(sources.select(col("id")).distinct()
      .select(col("id").as("source"), col("id"), lit(0).as("hops")), rel)
    var frontier = visited
    try {
      var frontierCount = visitedCount
      var hop = 1
      var done = frontierCount == 0L
      while (!done && hop <= maxHops) {
        val candidates =
          if (Broadcast.fits(frontier, frontierCount)) expand(broadcast(frontier))
          else expandSmj(frontier)
        val vis = visited.select(col("source").as("__v_src"),
          col("id").as("__v_id"))
        val visSide = Broadcast.hint(vis, visitedCount)
        val (next, cnt) = cutCount(candidates.distinct()
          .join(visSide,
            col("source") === col("__v_src") && col("id") === col("__v_id"),
            "left_anti")
          .withColumn("hops", lit(hop)), rel)
        if (cnt == 0L) done = true
        else {
          // Lazy union of already-cut frontiers: each round's rows are
          // materialized exactly ONCE (by next's cut); re-cutting the
          // cumulative union would rewrite all prior rounds every
          // round — O(maxHops × state) materialization instead of
          // O(state).
          visited = visited.unionByName(next)
          visitedCount += cnt
          frontier = next
          frontierCount = cnt
        }
        hop += 1
      }
      visited
    } finally {
      if (!inputServedCheaply) e.unpersist(blocking = false)
      if (ePart != null) ePart.unpersist(blocking = false)
    }
  }

  /** +G: sampled triangle counting (DOULION, Tsourakakis et al.
    * 2009): count triangles on a 1/k edge sample and scale by k³ —
    * the triangle enumeration's two shuffled joins then touch ~1/k
    * of the edges and ~1/k³ of the triangle work, the standard
    * 100 TB estimate when the exact count is too expensive. The
    * sample is DETERMINISTIC (md5 of the canonical edge key mod k —
    * the portable-hash rationale of randomWalks/pipe_dsir: an
    * ANSI oracle can recompute the estimate exactly, where xxhash
    * could not), so the estimate is a pure function of
    * (graph, k) — reproducible, value-checkable, and at scale the
    * variance argument is the paper's. Returns one row
    * (sampled_edges, est_triangles).
    */
  def triangleCountSampled(canonicalEdges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "sampling modulus must be >= 1")
    val keyed = canonicalEdges.select(col("src"), col("dst"))
      .filter(conv(substring(md5(concat_ws("_", col("src"), col("dst"))),
        1, 8), 16, 10).cast("long") % k === 0)
    triangles(keyed)
      .agg(count(lit(1)).as("sampled_triangles"))
      .select(
        (col("sampled_triangles") * lit(k.toLong) * lit(k.toLong) *
          lit(k.toLong)).as("est_triangles"))
      .crossJoin(keyed.agg(count(lit(1)).as("sampled_edges")))
      .select(col("sampled_edges"), col("est_triangles"))
  }

  /** +G: landmark distance index (the ALT / landmark-embedding
    * technique, Goldberg & Harrelson 2005): pick the L highest-degree
    * vertices as landmarks (ties by min id — deterministic), run ONE
    * bulk [[multiSourceBfs]], and keep the L·V hop table. Any
    * pairwise distance query is then served from the index by the
    * triangle inequality ([[landmarkBounds]]) without touching the
    * edge set — the 100 TB answer to "how far apart are these two
    * vertices" at query time: exact per-pair BFS costs an edge-set
    * traversal per query, the index costs L rows per lookup. The
    * landmark pick is a TakeOrdered over the degree aggregate
    * (L-bounded, never a global sort).
    */
  def landmarkIndex(edges: DataFrame, numLandmarks: Int, maxHops: Int,
      undirected: Boolean = true): DataFrame = {
    require(numLandmarks > 0, "need at least one landmark")
    val e = edges.select(col("src"), col("dst"))
    val doubled =
      if (undirected)
        e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      else e
    val lms = doubled.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree"))
      .orderBy(col("degree").desc, col("id").asc)
      .limit(numLandmarks).select("id")
    multiSourceBfs(e, lms, maxHops, undirected)
  }

  /** Triangle-inequality distance bounds from a landmark index (an
    * undirected index): for each (u, v) pair,
    * `max_l |d(u,l) − d(v,l)|  ≤  d(u,v)  ≤  min_l d(u,l) + d(v,l)`.
    * Only landmarks that reach BOTH endpoints contribute (inner
    * joins); pairs no landmark covers are absent. Two equi-joins on
    * the landmark id + one aggregate — no BFS at query time.
    */
  def landmarkBounds(index: DataFrame, pairs: DataFrame): DataFrame = {
    val du = index.select(col("source").as("l"), col("id").as("u"),
      col("hops").as("du"))
    val dv = index.select(col("source").as("l"), col("id").as("v"),
      col("hops").as("dv"))
    pairs.join(du, Seq("u")).join(dv, Seq("v", "l"))
      .groupBy("u", "v")
      .agg(max(abs(col("du") - col("dv"))).as("lb"),
        min(col("du") + col("dv")).as("ub"))
  }

  /** +G: earliest-arrival TEMPORAL reachability (Wu et al. 2014,
    * "Path Problems in Temporal Graphs"): over edges stamped with a
    * time, a path is valid only if its edge times never decrease —
    * "u reached v" means a causally-consistent chain of interactions,
    * which plain reachability overstates (it happily chains a 1998
    * edge after a 2000 one). Computed as a min-date frontier
    * relaxation: arrival(seed, v) starts at the sentinel for the
    * seeds and each round relaxes along temporal edges whose stamp is
    * ≥ the current arrival, keeping per-(seed, v) minima. Earliest
    * arrival is monotone non-increasing, so the fixpoint exists and
    * whole-round relaxation is exact. Each round is one equi-join on
    * the frontier (count-licensed broadcast like [[multiSourceBfs]])
    * and one map-side-combined min — the state is O(seeds · V),
    * never per-edge.
    *
    * TWO-LEVEL OPTION (r10, probed both ways): `dateBuckets` > 1
    * processes edges in ASCENDING equal-width date buckets, each run
    * to its own mini-fixpoint — Dijkstra-in-bulk. Correct because a
    * bucket-b edge only produces arrivals in bucket b and only
    * consumes arrivals ≤ ed, all settled by buckets ≤ b; parity with
    * the flat form probe-verified. The trade is measured, not
    * guessed (the temporal-reach probe, OPTIMIZATION_r13.md Retired
    * diagnostics; sf0.1, 2.39M temporal edges):
    * without broadcast hints the bucketed form wins (15.9 → 13.1 s —
    * each phase's join is bucket-sliced where the flat form's
    * frontier matches nearly every LATER edge of its vertex, and
    * cross-bucket churn vanishes, 3.63 → 3.00); WITH the
    * count-licensed broadcasts the flat form wins at this scale
    * (8-10 s vs 14.7 s — rounds rose 14 → 20 plus 8 slice
    * materializations, and round overhead dominates once every join
    * broadcasts). Default therefore stays FLAT (dateBuckets = 1);
    * raise it on a cluster where frontiers exceed the broadcast
    * threshold and per-round join volume, not round count, is the
    * bottleneck — that is exactly the 100 TB regime the bucketed
    * path exists for.
    */
  def temporalReachability(tedges: DataFrame, seeds: DataFrame,
      sentinel: java.sql.Timestamp, maxRounds: Int = 60,
      dateBuckets: Int = 1): DataFrame = {
    require(dateBuckets >= 1, s"dateBuckets must be >= 1, got $dateBuckets")
    val rel = graft.Lineage.reliable(tedges.sparkSession)
    val e = tedges.select(col("src"), col("dst"), col("d").as("ed"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // distinct: the scan-only merge below maintains the state by
      // key-unique broadcast joins (no re-grouping), so duplicate
      // seed rows must collapse HERE — the old union+groupBy merge
      // absorbed them incidentally on the first improving round
      // arrivalUb: running upper bound on |arrival| (seed rows + every
      // improved frame folded in): licenses the SCAN-ONLY state merge
      // below without ever counting the state — the seed count rides
      // the seed cut's one job
      var (arrival, arrivalUb) = cutCount(seeds.select(col("id").as("seed"),
        col("id"), lit(sentinel).as("d")).distinct(), rel)
      // equal-width bucket bounds over the edge-stamp span (one agg;
      // any boundary choice is CORRECT, this one is deterministic).
      // dateBuckets = 1 (the default) skips the span agg, the slice
      // materialization, and the per-bucket arrival filter entirely —
      // the flat form pays nothing for the option's existence.
      val bounds: Seq[Option[Long]] =
        if (dateBuckets == 1) Seq(None)
        else {
          val span = e.agg(
            min(col("ed").cast("timestamp").cast("long")),
            max(col("ed").cast("timestamp").cast("long"))).head()
          if (span.isNullAt(0)) return arrival // no edges: seeds only
          val (lo0, hi0) = (span.getLong(0), span.getLong(1))
          val width = math.max(1L, (hi0 - lo0) / dateBuckets + 1)
          (1 to dateBuckets).map(i =>
            math.min(hi0, lo0 - 1 + i * width)).distinct.map(Some(_))
        }
      var loSec = Long.MinValue
      for (hiOpt <- bounds) {
        // the round budget is PER BUCKET (r11, advisor-flagged): a
        // shared budget exhausted by early buckets would leave a
        // later bucket's while loop unentered with improvedCnt = -1,
        // which the convergence require below reads as success —
        // silently unrelaxed edges. Total work bound is therefore
        // maxRounds * dateBuckets.
        var rounds = 0
        val eb = hiOpt match {
          case None => e
          case Some(hiSec) => e.filter(
              col("ed").cast("timestamp").cast("long") > loSec &&
                col("ed").cast("timestamp").cast("long") <= hiSec)
            .cut(rel)
        }
        // None is the single flat bucket, entered before any round:
        // arrivalUb is still the exact seed count there
        var (frontier, frontierCnt) = hiOpt match {
          case None => (arrival, arrivalUb)
          case Some(hiSec) =>
            val f = arrival.filter(
              col("d") <= lit(new java.sql.Timestamp(hiSec * 1000L)))
            (f, f.count())
        }
        var improvedCnt = -1L
        while (frontierCnt > 0 && improvedCnt != 0 && rounds < maxRounds) {
          val fr = Broadcast.hint(frontier, frontierCnt)
          val candidates = fr.join(eb,
              fr("id") === eb("src") && eb("ed") >= fr("d"))
            .select(col("seed"), col("dst").as("id"), col("ed").as("d"))
            .groupBy("seed", "id").agg(min(col("d")).as("d"))
          // `old` kept on the improved frame: the state-merge below
          // splits on it (null = first arrival, else strictly better),
          // so the arrival update needs NO re-probe of the state
          val (improved, n) = cutCount(candidates
            .join(arrival.select(col("seed"), col("id"),
              col("d").as("old")), Seq("seed", "id"), "left")
            .filter(col("old").isNull || col("d") < col("old")), rel)
          improvedCnt = n
          if (improvedCnt > 0) {
            // SCAN-ONLY state merge (r13, the r12 verdict watch item):
            // the old union+groupBy re-shuffled the O(seeds·V) arrival
            // state every round; a window-sized improvement instead
            // broadcast-joins onto a state SCAN (keys stay unique:
            // arrival keys are unique, `better` keys are a groupBy's
            // output, `fresh` keys are provably absent). Gated BOTH
            // ways: the improvement must fit the broadcast license
            // AND the arrival state must no longer fit it — while the
            // state fits, the single-shuffle groupBy merge is cheaper
            // than a per-round broadcast build (measured: g32's
            // 3-seed state lost ~1 s/run to unconditional broadcast
            // merging), past it the state scan replaces an
            // O(rounds·state) shuffle series.
            val merged = if (Broadcast.fits(improved, improvedCnt) &&
                !Broadcast.fits(arrival, arrivalUb)) {
              val better = broadcast(improved.filter(col("old").isNotNull)
                .select(col("seed"), col("id"), col("d").as("__nd")))
              val fresh = improved.filter(col("old").isNull)
                .select("seed", "id", "d")
              arrival.join(better, Seq("seed", "id"), "left")
                .select(col("seed"), col("id"),
                  coalesce(col("__nd"), col("d")).as("d"))
                .unionByName(fresh)
            } else
              arrival.unionByName(improved.select("seed", "id", "d"))
                .groupBy("seed", "id").agg(min(col("d")).as("d"))
            arrival = merged.cut(rel)
            arrivalUb += improvedCnt
            frontier = improved.select("seed", "id", "d")
            frontierCnt = improvedCnt
          }
          rounds += 1
        }
        // a budget cut is indistinguishable from a fixpoint to the
        // caller — fail loudly like louvainLocalMoves instead of
        // returning silently-unconverged arrivals. The loop may stop
        // ONLY at a proven fixpoint (improvedCnt == 0) or an empty
        // frontier; any other exit (budget, including a maxRounds = 0
        // degenerate that never enters) must fail.
        require(improvedCnt == 0L || frontierCnt == 0L,
          s"temporalReachability did not converge in $maxRounds rounds " +
            s"(bucket ${hiOpt.fold("<all>")(h => s"<= $h")} still " +
            "improving); raise maxRounds")
        hiOpt.foreach(loSec = _)
      }
      arrival
    } finally e.unpersist(blocking = false)
  }

  /** G9: k-core — iteratively drop vertices with (undirected) degree
    * < k and their incident edges until stable
    * (graph/algorithms/src/lib.rs:47-82). Returns surviving vertex
    * ids with their core degree.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    val rel = graft.Lineage.reliable(edges.sparkSession)
    var e = edges.select(col("src"), col("dst")).cut(rel)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      val deg = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
      // counted cut: without it the emptiness probe AND both anti-joins
      // would each recompute the degree aggregation; the count also
      // licenses broadcasting the (usually tiny) prune set so the
      // anti-joins stream `e` instead of shuffling it every round
      val (bad, badCnt) = cutCount(deg.filter(col("degree") < k).select("id"), rel)
      if (badCnt == 0L) changed = false
      else {
        val b = Broadcast.hint(bad, badCnt)
        e = e.join(b.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
          .join(b.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
          .select("src", "dst")
          .cut(rel)
      }
      iter += 1
    }
    require(!changed,
      s"kCore did not converge in $maxIter rounds (vertices still " +
        "peeling); raise maxIter — a truncated peel is NOT the k-core")
    e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
  }

  /** +G: full core decomposition — the CORENESS of every vertex (the
    * largest k whose k-core contains it), not just one k-core's
    * membership. Computed by the h-index iteration (Lü et al. 2016,
    * "The H-index of a network node and its relation to degree and
    * coreness"): c(v) starts at degree and each round becomes the
    * h-index of its neighbors' current values (the largest h such
    * that h neighbors hold value ≥ h); the sequence is monotone
    * non-increasing and its fixpoint IS the coreness. Each round is
    * one join (neighbor values) + one per-vertex window h-index
    * (`max(least(rank, value))` over values sorted descending — tie
    * order is irrelevant, the h-index is a multiset function), so
    * the whole decomposition is O(rounds) shuffles with V-sized
    * state — no sequential peeling order to respect, which is what
    * makes this the distributed-friendly form of coreness (the
    * textbook peel is inherently ordered).
    */
  def coreness(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val rel = graft.Lineage.reliable(edges.sparkSession)
    val e = edges.select(col("src"), col("dst"))
    val adj = graft.TransientCache.persist(
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var c = adj.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("c")).cut(rel)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      // Hub-skew-proof h-index round. The naive form (sort each
      // vertex's FULL neighbor-value list in one window partition)
      // makes a 10M-degree hub's partition the straggler at 100×.
      // Instead: since h_next(v) <= c(v) (Lü et al.'s monotonicity),
      // capping every neighbor value at c(v) changes no h-index, and
      // counting per (v, capped value) is a map-side-combinable hash
      // aggregate that leaves <= c(v)+1 rows per vertex for the
      // window. Over the descending-cumulative counts C(val) the
      // identity h = max over distinct vals of min(val, C(val))
      // recovers the exact h-index. (A value FILTER `nc >= c(v)`
      // would NOT be sound: c=5 with neighbor values [4,4,4,4] has
      // h=4 but the filter leaves nothing.)
      val nv = adj
        .join(c.select(col("id").as("dst"), col("c").as("nc")), Seq("dst"))
        .join(c.select(col("id").as("src"), col("c").as("cs")), Seq("src"))
      val capped = nv
        .groupBy(col("src"), least(col("nc"), col("cs")).as("cv"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("src").orderBy(col("cv").desc)
      val next = capped
        .select(col("src"),
          least(col("cv"), sum(col("cnt")).over(w)).as("m"))
        .groupBy(col("src").as("id")).agg(max(col("m")).as("c"))
        .cut(rel)
      val diff = next.alias("n")
        .join(c.alias("o"), col("n.id") === col("o.id"))
        .filter(col("n.c") =!= col("o.c")).count()
      if (diff == 0L) changed = false else c = next
      iter += 1
    }
    require(!changed,
      s"coreness h-index iteration did not converge in $maxIter " +
        "rounds; raise maxIter")
    c
  }

  /** G10: triangle enumeration over a canonical (a<b) undirected edge
    * set: e(a,b) ⋈ e(b,c) ⋈ e(a,c) with a<b<c — two shuffled joins,
    * each prunable by Catalyst.
    */
  def triangles(canonicalEdges: DataFrame): DataFrame = {
    val e = canonicalEdges.select(col("src").as("a"), col("dst").as("b"))
    val e2 = e.select(col("a").as("b2"), col("b").as("c"))
    val e3 = e.select(col("a").as("a3"), col("b").as("c3"))
    e.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
  }

  def triangleCount(canonicalEdges: DataFrame): DataFrame =
    triangles(canonicalEdges).agg(count(lit(1)).as("triangles"))

  /** Per-edge triangle support WITHIN the given edge set: for each
    * canonical (src<dst) edge, the number of triangles of the set that
    * contain it. One [[triangles]] enumeration serves every edge: each
    * triangle row fans into its three member edges and a
    * map-side-combined count; edges in no triangle COALESCE to 0 so
    * the output covers the full input edge set.
    */
  def edgeSupport(canonicalEdges: DataFrame): DataFrame = {
    val tri = triangles(canonicalEdges)
    val legs = tri.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(tri.select(col("b").as("src"), col("c").as("dst")))
      .unionAll(tri.select(col("a").as("src"), col("c").as("dst")))
    val cnt = legs.groupBy("src", "dst").agg(count(lit(1)).as("support"))
    canonicalEdges.select("src", "dst")
      .join(cnt, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** G30 (graft extension): k-truss (Cohen 2008) — the maximal
    * subgraph in which every edge participates in at least k−2
    * triangles OF THE SUBGRAPH. Computed by the standard distributed
    * peeling: drop every edge whose within-set support falls below
    * k−2, recompute support on the survivors (removals cascade —
    * a triangle dies with any of its edges), repeat to fixpoint.
    * The fixpoint is the unique maximal k-truss, so peeling order
    * does not matter and whole-round peeling is exact.
    *
    * Input contract matches [[triangles]]: canonical (src<dst)
    * distinct undirected edges. Each round is one triangle
    * enumeration (two shuffled equi-joins, both prunable) plus an
    * anti-join against the peeled set — the peeled set is counted
    * anyway for the convergence probe, so the count licenses a
    * broadcast hint and the anti-join streams the surviving edges.
    * At 100 TB the round state is the edge set itself (cut each
    * round, never collected); rounds are bounded by the support
    * peel depth, in practice single digits.
    */
  def kTruss(canonicalEdges: DataFrame, k: Int, maxIter: Int = 100)
      : DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val rel = graft.Lineage.reliable(canonicalEdges.sparkSession)
    var e = canonicalEdges.select("src", "dst").distinct().cut(rel)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      val (bad, badCnt) = cutCount(edgeSupport(e)
        .filter(col("support") < k - 2).select("src", "dst"), rel)
      if (badCnt == 0L) changed = false
      else {
        val b = Broadcast.hint(bad, badCnt)
        e = e.join(b, Seq("src", "dst"), "left_anti")
          .select("src", "dst").cut(rel)
      }
      iter += 1
    }
    require(!changed,
      s"kTruss did not converge in $maxIter rounds (edges still " +
        "peeling); raise maxIter — a truncated peel is NOT a k-truss")
    e
  }

  /** G19 (graft extension): local clustering coefficient —
    * lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), the fraction of a
    * vertex's neighbor pairs that are themselves adjacent (Watts &
    * Strogatz 1998). Input contract matches [[triangles]]: canonical
    * (src<dst) distinct undirected edges.
    *
    * One [[triangles]] enumeration serves EVERY vertex: each triangle
    * row fans into its three members and a map-side-combined count
    * per id — no per-vertex neighborhood intersection. The edge set
    * is transiently persisted because it is scanned five times
    * (3 triangle legs + 2 degree legs); degree-1 vertices short to
    * 0.0 (the 0/0 guard), vertices in no triangle COALESCE to 0.
    * Scale posture: cost is the triangle join's Σ deg² fanout on the
    * mid key — identical to g10, which the bench already carries;
    * the canonical orientation halves candidate pairs up front.
    */
  def localClusteringCoefficient(canonicalEdges: DataFrame): DataFrame = {
    val e = graft.TransientCache.persist(
      canonicalEdges.select(col("src"), col("dst")))
    val deg = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val tri = triangles(e)
    val triPerVertex = tri.select(col("a").as("id"))
      .unionAll(tri.select(col("b").as("id")))
      .unionAll(tri.select(col("c").as("id")))
      .groupBy("id").agg(count(lit(1)).as("t"))
    deg.join(triPerVertex, Seq("id"), "left")
      .select(col("id"), col("degree"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(coalesce(col("t"), lit(0L)) * lit(2.0) /
            (col("degree") * (col("degree") - lit(1)))).as("lcc"))
  }

  /** G11: strongly connected components — exact, DataFrame-native
    * forward-backward coloring (Slota/Madduri-style FB-trim without
    * the trim step; GraphX's `stronglyConnectedComponents` rebuilds
    * the whole graph each superstep and measured ~5× slower on the
    * co-order bench graph), finished on the driver once the residual
    * graph is small.
    *
    * Each outer round over the remaining subgraph:
    *  1. forward min-label fixpoint: f(v) = min id that reaches v
    *     (iterated relaxations, rounds = subgraph diameter);
    *  2. backward sweep WITHIN each color class from its root c
    *     (f(c)=c): the vertices of color c that reach c through
    *     same-colored vertices are exactly SCC(c) — c = min(SCC) so
    *     the emitted label matches the min-member convention;
    *  3. peel every root SCC (≥1 per color class per round), restrict
    *     edges, repeat.
    *
    * Local finish: at entry and after every peel, when the remaining
    * vertex frame and the residual edge frame both fit the broadcast
    * license ([[graft.Broadcast.fits]]: the session byte budget over
    * each frame's row width; both counts come from the loop's counted
    * cuts), the two are collected and labeled on the
    * driver by [[sccLocalSolve]] (Tarjan, O(V + E)). The answer rows
    * form a driver-local frame, one per collected vertex row, unioned
    * with the rows already peeled. Each distributed round costs a
    * dozen-plus jobs whatever its size, so a small residual graph is
    * cheaper to finish in one collect. A session
    * `spark.sql.autoBroadcastJoinThreshold` below one row's width
    * keeps every round distributed (no non-empty frame fits a 0-row
    * budget).
    *
    * Every per-round frame is lineage-truncated — flat lineage, the
    * iterative-DataFrame pattern used by reachability/kCore/CC here
    * (reliable when the session has a checkpoint dir — see
    * [[graft.Lineage]]). `numIter` caps the DISTRIBUTED outer rounds
    * (each peels ≥1 SCC per color; deep SCC-DAG chains need more
    * rounds); the local finish is exact and runs whenever the residual
    * fits, also after the last capped round. Leftovers that neither
    * peel nor fit get their forward min-reaching-id label, the same
    * best-effort cutoff GraphX's numIter applies, which can MERGE
    * distinct SCCs; the cutoff is counted and logged so it can't fire
    * silently.
    */
  def stronglyConnectedComponents(vertices: DataFrame, edges: DataFrame,
      numIter: Int = 50): DataFrame = {
    val rel = graft.Lineage.reliable(vertices.sparkSession)
    var (remaining, remainingCount) = cutCount(vertices.select(col("id")), rel)
    // Restrict edges to the declared vertex set at ENTRY (the later
    // label joins filtered stray endpoints anyway, so semantics are
    // unchanged): afterwards every per-round frame — f, marked, and
    // the groupBy-dst aggregate `upd` — is provably bounded by
    // remainingCount, which makes the broadcast hints below sound
    // even for edge inputs mentioning ids outside `vertices`.
    val vIds = Broadcast.hint(remaining, remainingCount)
    var (e, eCount) = cutCount(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .join(vIds.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(vIds.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst")), rel)
    var result: DataFrame = null
    def accumulate(done: DataFrame): Unit =
      result = if (result == null) done.cut(rel)
      else result.unionByName(done).cut(rel)
    def fitsDriver: Boolean =
      Broadcast.fits(remaining, remainingCount) && Broadcast.fits(e, eCount)
    var outer = 0
    var lastF: DataFrame = null
    // Every frame in the loops below is checkpointed, i.e. stats-less
    // to the planner, whose SMJ fallback costs 3-4 shuffle stages per
    // inner iteration. The vertex-sided frames (f, upd, marked) are
    // bounded by the remaining-vertex count, which the loop already
    // pays a count job to learn — broadcast-hint them while they fit
    // (slim rows: id + label), leave the edge side streaming.
    def bc(df: DataFrame): DataFrame = Broadcast.hint(df, remainingCount)
    while (outer < numIter && remainingCount > 0L && !fitsDriver) {
      // 1. forward min-label fixpoint
      var f = remaining.select(col("id"), col("id").as("f")).cut(rel)
      var converged = false
      while (!converged) {
        val upd = e.join(bc(f.select(col("id").as("src"), col("f").as("fs"))),
            "src")
          .groupBy(col("dst").as("id")).agg(min("fs").as("nbrf"))
        val next = f.join(bc(upd), Seq("id"), "left")
          .select(col("id"),
            least(col("f"), coalesce(col("nbrf"), col("f"))).as("f"))
          .cut(rel)
        val changed = next
          .join(bc(f.select(col("id"), col("f").as("f0"))), "id")
          .filter(col("f") =!= col("f0")).count()
        f = next
        converged = changed == 0
      }
      lastF = f
      // 2. backward sweep within color from the roots
      var marked = f.filter(col("f") === col("id")).cut(rel)
      converged = false
      while (!converged) {
        val (newly, newlyCount) = cutCount(e
          .join(bc(marked.select(col("id").as("dst"), col("f").as("fw"))),
            "dst")
          .select(col("src").as("id"), col("fw")).distinct()
          // after the distinct: a vertex row repeated in `vertices`
          // is marked once per repeat, as a root is
          .join(bc(f), Seq("id"))
          .filter(col("f") === col("fw"))
          .select(col("id"), col("f"))
          .join(bc(marked.select(col("id"))), Seq("id"), "left_anti"), rel)
        if (newlyCount == 0L) converged = true
        else marked = marked.unionByName(newly).cut(rel)
      }
      // 3. peel
      accumulate(marked.select(col("id"), col("f").as("component")))
      val (restE, restECount) = cutCount(e
        .join(bc(marked.select(col("id").as("src"))), Seq("src"), "left_anti")
        .join(bc(marked.select(col("id").as("dst"))), Seq("dst"), "left_anti")
        .select(col("src"), col("dst")), rel)
      e = restE
      eCount = restECount
      val (rest, restCount) = cutCount(remaining
        .join(bc(marked.select(col("id"))), Seq("id"), "left_anti"), rel)
      remaining = rest
      remainingCount = restCount
      outer += 1
    }
    if (remainingCount > 0L && fitsDriver) {
      // local finish: exact labels for every remaining vertex row
      val idType = remaining.schema("id").dataType
      val ids = remaining.select(col("id").cast("long")).collect()
        .map(_.getLong(0))
      val pairs = e.select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val spark = vertices.sparkSession
      val local = spark.createDataFrame(ids.toSeq.zip(sccLocalSolve(ids, pairs)))
        .select(col("_1").cast(idType).as("id"),
          col("_2").cast(idType).as("component"))
      result = if (result == null) local else result.unionByName(local)
    } else if (remainingCount > 0L) {
      // numIter cutoff: best-effort labels for unpeeled vertices —
      // logged, never silent (forward labels can merge distinct SCCs)
      val unpeeled = remainingCount
      System.err.println(
        s"[graft] SCC numIter=$numIter cap hit: $unpeeled vertices keep " +
          "best-effort forward labels (distinct SCCs may merge); raise numIter")
      val fallback =
        if (lastF != null) lastF.join(remaining, Seq("id"), "left_semi")
          .select(col("id"), col("f").as("component"))
        else remaining.select(col("id"), col("id").as("component"))
      accumulate(fallback)
    }
    if (result == null)
      vertices.select(col("id"), col("id").as("component")).filter(lit(false))
    else result
  }

  /** W1: top-k by score (basic.rs:25-31) — TakeOrderedAndProject, no
    * global sort.
    */
  def topN(scores: DataFrame, scoreCol: String, n: Int): DataFrame =
    scores.orderBy(desc(scoreCol), asc("id")).limit(n)

  /** Deterministic SYNCHRONOUS label propagation (community
    * detection beyond the reference's algorithm set): every vertex
    * starts as its own label; each round every vertex adopts the
    * most frequent label among its neighbors simultaneously, ties to
    * the SMALLEST label, isolated/idle vertices keep their label.
    * Classic async LPA is run-order dependent; the synchronous
    * min-tie form is a pure function of (graph, numIter), which is
    * what lets a fixed-rounds run carry a full cross-engine value
    * oracle (the DuckDB side unrolls the same rounds as CTEs).
    *
    * Relational per round: messages = edges ⋈ labels on src (the
    * Pregel shape — one shuffle on dst, vertex-sized), label counts
    * = one HashAggregate with map-side combine (a hot (dst, label)
    * combines, never fans out), argmax = min(struct(-cnt, label))
    * in a second aggregate — no windows. Lineage cuts every 4th
    * round keep the re-walked plan O(1) like the sibling loops;
    * numIter is small by contract (communities stabilize in a few
    * rounds; LPA has no fixpoint guarantee under oscillation, which
    * synchronous update makes visible rather than hiding).
    */
  def labelPropagation(vertices: DataFrame, edges: DataFrame,
      numIter: Int = 4, undirected: Boolean = true): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
    // SIMPLE-graph semantics: distinct() so an input that lists an
    // undirected edge in both orientations doesn't double its vote —
    // votes count NEIGHBORS, not parallel edges. Query-lifetime
    // persist (the harness releases after the action); a manual
    // unpersist here would fire before the lazy plan runs.
    val e = graft.TransientCache.persist(
      (if (undirected) e0.union(edges.select(col("dst").as("src"),
        col("src").as("dst"))) else e0).distinct())
    var labels = vertices.select(col("id"), col("id").as("label"))
    for (i <- 1 to numIter) {
      val msgs = e.join(labels, e("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      val best = msgs.groupBy("id", "label")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("id")
        .agg(min(struct((-col("cnt")).as("nc"), col("label"))).as("b"))
        .select(col("id"), col("b.label").as("newLabel"))
      labels = labels.join(best, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("newLabel"), col("label")).as("label"))
      if (i % 4 == 0 && i < numIter) labels = labels.cut(false)
    }
    labels.select(col("id"), col("label").as("community"))
  }

  /** G17 (graft extension): k-bounded harmonic centrality —
    * H(v) = Σ over u reached within maxHops of 1 / d(v, u). The
    * disconnection-robust closeness (unreached vertices contribute 0
    * instead of poisoning a sum of distances), truncated at maxHops
    * as large-graph practice does (Boldi & Vigna 2014 compute it
    * bounded/approximate for exactly this reason).
    *
    * ONE [[multiSourceBfs]] pass serves EVERY source — the bulk
    * frontier loop is O(maxHops) joins total, not per-source; the
    * aggregate is a map-side-combined sum keyed by source. Vertices
    * reaching nothing within the bound get no row (their H is the
    * empty sum — callers wanting explicit zeros left-join vertices).
    */
  def harmonicCentrality(edges: DataFrame, vertices: DataFrame,
      maxHops: Int, undirected: Boolean = false): DataFrame =
    multiSourceBfs(edges, vertices, maxHops, undirected)
      .filter(col("hops") > 0)
      .groupBy(col("source").as("id"))
      .agg(sum(lit(1.0) / col("hops")).as("harmonic"))

  /** G25 (graft extension): k-bounded closeness centrality — the
    * classic reciprocal-farness form over the ≤ maxHops reachable
    * set, C(v) = r / Σ_{u reached} d(v,u) (r = reached count
    * excluding v), plus the Wasserman–Faust component correction
    * C_wf(v) = (r / (n−1)) · C(v) that makes scores comparable
    * across components of different size (without it a vertex in a
    * tiny component looks artificially central — the reason
    * harmonic exists; closeness is still the form most toolkits
    * report, so both ship). Same bulk-BFS economics as
    * [[harmonicCentrality]]: one [[multiSourceBfs]] serves every
    * source, the per-source (Σd, r) pair is one map-side-combined
    * aggregate, and n is a single count on the (already persisted)
    * vertex frame. Vertices reaching nothing within the bound get
    * no row (empty farness sum — callers wanting zeros left-join).
    */
  def closenessCentrality(edges: DataFrame, vertices: DataFrame,
      maxHops: Int, undirected: Boolean = false): DataFrame = {
    val n = vertices.count()
    require(n > 1, "closeness needs at least two vertices")
    multiSourceBfs(edges, vertices, maxHops, undirected)
      .filter(col("hops") > 0)
      .groupBy(col("source").as("id"))
      .agg(count(lit(1)).as("reached"), sum(col("hops")).as("farness"))
      .select(col("id"), col("reached"),
        (col("reached") / col("farness")).as("closeness"),
        (col("reached") * col("reached") /
          (col("farness") * (n - 1).toDouble)).as("closeness_wf"))
  }

  /** G23 (graft extension): Newman modularity of a given partition —
    * the community-quality metric the clustering family needs to be
    * actionable (run LPA/CC, SCORE the result, compare parameter
    * choices):
    *   Q = Σ_c [ e_c/m − (Σdeg_c / 2m)² ]
    * per community (e_c = intra-community edges, m = |edges|), with
    * one row per community carrying its contribution. Input contract
    * matches [[triangles]]: canonical (src<dst) distinct undirected
    * edges; `communities` is an (id, community) assignment. Vertices
    * without edges carry no degree and drop out (they contribute 0
    * to Q by definition).
    *
    * Scale posture: two equi-joins of the edge list against the
    * assignment (broadcastable when communities fit, AQE otherwise)
    * + two map-side-combined aggregates — no per-community scans,
    * no driver loops; the caller sums `q` for the scalar.
    */
  def modularity(canonicalEdges: DataFrame,
      communities: DataFrame): DataFrame = {
    val e = graft.TransientCache.persist(
      canonicalEdges.select(col("src"), col("dst")))
    val m = e.count().toDouble
    require(m > 0, "modularity needs at least one edge")
    val deg = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    // the assignment is scanned THREE times (degree join + both edge
    // endpoints) — persist it, or an expensive upstream (an LPA run)
    // re-executes per scan (measured 3× the whole propagation loop)
    val c = graft.TransientCache.persist(
      communities.select(col("id"), col("community")))
    val degC = deg.join(c, Seq("id"))
      .groupBy("community").agg(sum("degree").as("deg_sum"))
    val ca = c.select(col("id").as("src"), col("community").as("ca"))
    val cb = c.select(col("id").as("dst"), col("community").as("cb"))
    val intra = e.join(ca, Seq("src")).join(cb, Seq("dst"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    degC.join(intra, Seq("community"), "left")
      .select(col("community"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("deg_sum"),
        (coalesce(col("internal_edges"), lit(0L)) / m -
          pow(col("deg_sum") / (2 * m), 2)).as("q"))
  }

  /** G20 (graft extension): Jaccard neighborhood similarity —
    * J(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)| for every pair sharing at
    * least one neighbor (pairs with empty intersection score 0 and
    * are simply absent — emitting the V² zero matrix is never right
    * at scale). The denominator is inclusion-exclusion
    * deg(a)+deg(b)−common, so ONE self-join computes everything: no
    * set materialization per vertex.
    *
    * Scale posture: identical economics to [[adamicAdar]] — the pair
    * fanout is Σ deg² per SHARED neighbor, so `maxDegree` drops
    * crowd hubs before the fanout (a 100k-degree vertex adds 5·10⁹
    * near-zero-signal pairs). NOTE the cap changes capped vertices'
    * counts from exact Jaccard (documented trade, default keeps all
    * realistic hubs). Both joins key on the shared-neighbor column,
    * one shuffle reused; counts are map-side combined.
    */
  def jaccardSimilarity(edges: DataFrame, undirected: Boolean = true,
      maxDegree: Int = 100000): DataFrame = {
    val eDir = edges.select(col("src"), col("dst"))
    val nb = graft.TransientCache.persist(
      (if (undirected)
        eDir.unionByName(eDir.select(col("dst").as("src"), col("src").as("dst")))
      else eDir).distinct())
    val deg = nb.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    // undirected nb is symmetric: the hub (dst-side) degree IS deg —
    // reuse it instead of a second full aggregation over the doubled
    // edge list; only the directed case needs its own dst-keyed count
    val hubOk = (if (undirected) deg.select(col("v").as("h"), col("d").as("hd"))
      else nb.groupBy(col("dst").as("h")).agg(count(lit(1)).as("hd")))
      .filter(col("hd") <= maxDegree).select(col("h"))
    val a = nb.select(col("dst").as("h"), col("src").as("v1"))
    val b = nb.select(col("dst").as("h2"), col("src").as("v2"))
    val common = a.join(hubOk, Seq("h"))
      .join(b, col("h") === col("h2") && col("v1") < col("v2"))
      .groupBy("v1", "v2").agg(count(lit(1)).as("common"))
    common
      .join(deg.select(col("v").as("v1"), col("d").as("d1")), Seq("v1"))
      .join(deg.select(col("v").as("v2"), col("d").as("d2")), Seq("v2"))
      .select(col("v1"), col("v2"), col("common"),
        (col("common") / (col("d1") + col("d2") - col("common")))
          .as("jaccard"))
  }

  /** G21 (graft extension): personalized PageRank — the random walk
    * restarts at the SEED set instead of uniformly, so scores measure
    * proximity to the seeds (recommendation / expansion ranking;
    * Jeh & Widom 2003). Recurrence per iteration, same weak-dangling
    * convention as [[pageRank]] (unredistributed dangling mass):
    *   ppr(v) = (1−d)·s(v) + d·Σ_{u→v} ppr(u)/outdeg(u),
    * s(v) = 1/|seeds| on seeds, else 0.
    *
    * DataFrame power iteration: the edge list with 1/outdeg weights
    * is computed ONCE and persisted; each round is one equi-join +
    * map-side-combined sum keyed by dst — the per-round shuffle is
    * the irreducible msg aggregation, and rounds are lineage-cut so
    * the plan stays flat at any iteration count. Seeds ride a
    * broadcast isin (seed sets are human-sized; a frame-sized seed
    * variant would join instead).
    */
  def personalizedPageRank(vertices: DataFrame, edges: DataFrame,
      seeds: Seq[Long], damping: Double = 0.85, numIter: Int = 10,
      undirected: Boolean = false): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed")
    val rel = graft.Lineage.reliable(edges.sparkSession)
    val sd = seeds.distinct
    val sMass = 1.0 / sd.size
    val eDir = edges.select(col("src"), col("dst"))
    val e = if (undirected)
      eDir.unionByName(eDir.select(col("dst").as("src"), col("src").as("dst")))
    else eDir
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val withW = graft.TransientCache.persist(
      e.join(outDeg, Seq("src"))
        .select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("w")))
    val v = graft.TransientCache.persist(vertices.select(col("id")))
    val isSeed = col("id").isin(sd: _*)
    var pr = v.select(col("id"),
      when(isSeed, lit(sMass)).otherwise(lit(0.0)).as("score"))
    for (i <- 1 to numIter) {
      val msgs = withW.join(pr, withW("src") === pr("id"))
        .groupBy(withW("dst").as("id"))
        .agg(sum(col("w") * col("score")).as("m"))
      val next = v.join(msgs, Seq("id"), "left")
        .select(col("id"),
          (when(isSeed, lit((1.0 - damping) * sMass)).otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("m"), lit(0.0))).as("score"))
      // cut every 3rd round: each cut is an eager materialization of
      // one V-row frame; more often buys nothing, less often lets the
      // join tree nest past what the analyzer re-walks cheaply
      pr = if (i % 3 == 0 || i == numIter) next.cut(rel) else next
    }
    pr
  }

  /** G24 (graft extension): WEIGHTED PageRank — transition
    * probability proportional to edge weight (w / Σ_out w) instead of
    * 1/outdeg, the standard weighted-graph form; with uniform
    * weights it reduces exactly to [[pageRank]] (AlgoSpec pins the
    * equivalence). Same recurrence shape and fixed iteration count
    * as G1 so the unrolled-CTE oracle carries over with the
    * weighted transition.
    *
    * Join economics: the (src, dst, p) transition frame is computed
    * ONCE (one weight-sum aggregate + one join) and persisted; each
    * round is then one keyed sum + one left join, lineage-cut every
    * third round like [[personalizedPageRank]]/[[katzCentrality]].
    */
  def pageRankWeighted(vertices: DataFrame, edges: DataFrame,
      damping: Double = 0.85, numIter: Int = 10,
      undirected: Boolean = false): DataFrame = {
    val rel = graft.Lineage.reliable(edges.sparkSession)
    val eDir = edges.select(col("src"), col("dst"),
      col("w").cast("double").as("w"))
    val eAll = if (undirected)
      eDir.unionByName(eDir.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
    else eDir
    val tot = eAll.groupBy("src").agg(sum(col("w")).as("tw"))
    val trans = graft.TransientCache.persist(eAll.join(tot, "src")
      .select(col("src"), col("dst"), (col("w") / col("tw")).as("p")))
    val v = graft.TransientCache.persist(vertices.select(col("id")))
    val n = v.count().toDouble
    var pr = v.select(col("id"), lit(1.0 / n).as("score"))
    for (i <- 1 to numIter) {
      val msgs = trans.join(pr, trans("src") === pr("id"))
        .groupBy(trans("dst").as("id"))
        .agg(sum(col("score") * col("p")).as("m"))
      val next = v.join(msgs, Seq("id"), "left")
        .select(col("id"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("m"), lit(0.0))).as("score"))
      pr = if (i % 3 == 0 || i == numIter) next.cut(rel) else next
    }
    pr
  }

  /** G22 (graft extension): Katz centrality — fixed-iteration power
    * form of x = α·Aᵀx + β·1 (Katz 1953): unlike degree it credits
    * walks of every length, α-damped; unlike PageRank there is no
    * out-degree normalization, so prolific neighbors contribute
    * fully. Recurrence per iteration (x₀ = β):
    *   x_{t+1}(v) = β + α·Σ_{u→v} x_t(u).
    * Convergence needs α < 1/λmax; the driver surface runs a FIXED
    * iteration count with an identically-unrolled oracle, so parity
    * is exact whether or not the series has converged.
    *
    * Same join economics as [[personalizedPageRank]] minus the weight
    * join: one persisted edge projection, one keyed sum per round,
    * rounds lineage-cut every third.
    */
  def katzCentrality(vertices: DataFrame, edges: DataFrame,
      alpha: Double = 0.1, beta: Double = 1.0, numIter: Int = 8,
      undirected: Boolean = false): DataFrame = {
    val rel = graft.Lineage.reliable(edges.sparkSession)
    val eDir = edges.select(col("src"), col("dst"))
    val e = graft.TransientCache.persist(
      if (undirected)
        eDir.unionByName(eDir.select(col("dst").as("src"), col("src").as("dst")))
      else eDir)
    val v = graft.TransientCache.persist(vertices.select(col("id")))
    var x = v.select(col("id"), lit(beta).as("score"))
    for (i <- 1 to numIter) {
      val msgs = e.join(x, e("src") === x("id"))
        .groupBy(e("dst").as("id")).agg(sum(col("score")).as("m"))
      val next = v.join(msgs, Seq("id"), "left")
        .select(col("id"),
          (lit(beta) + lit(alpha) * coalesce(col("m"), lit(0.0)))
            .as("score"))
      x = if (i % 3 == 0 || i == numIter) next.cut(rel) else next
    }
    x
  }

  /** G26 (graft extension): HITS hubs & authorities (Kleinberg 1999)
    * — fixed-iteration mutual recursion over a DIRECTED edge set:
    * auth_i(v) = Σ_{u→v} hub_{i−1}(u), then hub_i(v) = Σ_{v→u}
    * auth_i(u), from all-ones, with ONE L1 normalization at the end.
    * Deferring normalization is exact, not an approximation: both
    * updates are linear, so per-iteration scaling only changes the
    * magnitude, never the direction — and it is what makes the
    * cross-engine oracle a plain unrolled CTE (no per-round scalar
    * joins). numIter stays small by contract so the unnormalized
    * magnitudes (≤ (d_max²)^k) stay far inside double range.
    *
    * Relational per iteration: two Pregel-shaped message aggregates
    * (edges ⋈ scores, map-side-combined SUM on the receiving key) —
    * the same economics as [[katzCentrality]]; lineage cut every
    * other round. Vertices with no in-edges carry authority 0, no
    * out-edges hub 0 (explicit rows — the zero IS the answer here,
    * unlike the reachability family where absence means absence).
    */
  def hits(vertices: DataFrame, edges: DataFrame, numIter: Int = 8)
      : DataFrame = {
    val rel = graft.Lineage.reliable(edges.sparkSession)
    val e = graft.TransientCache.persist(
      edges.select(col("src"), col("dst")))
    val v = graft.TransientCache.persist(vertices.select(col("id")))
    var hub = v.select(col("id"), lit(1.0).as("hub"))
    var auth: DataFrame = v.select(col("id"), lit(1.0).as("authority"))
    for (i <- 1 to numIter) {
      val aMsgs = e.join(hub, e("src") === hub("id"))
        .groupBy(e("dst").as("id")).agg(sum(col("hub")).as("m"))
      auth = v.join(aMsgs, Seq("id"), "left")
        .select(col("id"), coalesce(col("m"), lit(0.0)).as("authority"))
      if (i % 2 == 0 || i == numIter) auth = auth.cut(rel)
      val hMsgs = e.join(auth, e("dst") === auth("id"))
        .groupBy(e("src").as("id")).agg(sum(col("authority")).as("m"))
      hub = v.join(hMsgs, Seq("id"), "left")
        .select(col("id"), coalesce(col("m"), lit(0.0)).as("hub"))
      if (i % 2 == 0 || i == numIter) hub = hub.cut(rel)
    }
    // L1-normalize once; sums are > 0 whenever the graph has at
    // least one edge (all-ones init propagates through it).
    val hSum = hub.agg(sum("hub")).head().getDouble(0)
    val aSum = auth.agg(sum("authority")).head().getDouble(0)
    require(hSum > 0 && aSum > 0, "HITS needs at least one edge")
    hub.join(auth, Seq("id"))
      .select(col("id"), (col("hub") / hSum).as("hub"),
        (col("authority") / aSum).as("authority"))
  }

  /** G27 (graft extension): DETERMINISTIC random walks — the
    * node2vec/DeepWalk corpus generator (walks are the "sentences" a
    * graph-embedding trainer consumes), made a pure function of
    * (graph, walkLength, walksPerVertex) so it carries a full
    * cross-engine value oracle: step t of walk w at vertex u moves to
    * the out-neighbor whose dense rank (ordered by dst) equals an
    * LCG-style mix of (w, t, u) mod outdeg. Real samplers draw the
    * index from a seeded RNG; the mix IS that draw with a portable
    * hash both engines can evaluate (inputs are pre-reduced mod 1e6-
    * scale primes so every product stays far inside signed-64 range —
    * DuckDB errors on BIGINT overflow rather than wrapping, so
    * wrap-dependent mixes like xxhash64 are not portable).
    *
    * Relational: the ranked adjacency (rk = row_number−1, d = outdeg
    * per src) is ONE window shuffle computed once and persisted;
    * each step is one equi-join of the walker frontier on src with
    * the rank equation as a residual filter — O(walkLength) joins
    * total for ANY number of walks, the [[multiSourceBfs]] economics.
    * Walkers at a sink (no out-neighbors) simply stop (their walk is
    * shorter); every visited position is emitted as (walk, step, id).
    */
  def randomWalks(vertices: DataFrame, edges: DataFrame,
      walkLength: Int, walksPerVertex: Int = 1,
      undirected: Boolean = false): DataFrame = {
    require(walksPerVertex >= 1 && walkLength >= 1,
      "need at least one walk of at least one step")
    val eDir = edges.select(col("src"), col("dst"))
    val all = (if (undirected)
        eDir.unionByName(eDir.select(col("dst").as("src"),
          col("src").as("dst")))
      else eDir).distinct()
    val w = Window.partitionBy("src").orderBy("dst")
    val nb = graft.TransientCache.persist(all.select(col("src"),
      col("dst"), (row_number().over(w) - 1).cast("long").as("rk"),
      count(lit(1)).over(Window.partitionBy("src")).as("d")))
    def key(walk: Column, step: Int, cur: Column): Column =
      (walk % 1000003L) * 1103515245L + lit(step.toLong) * 12345L +
        (cur % 1000033L) * 2654435761L
    var frontier = vertices.select(explode(sequence(lit(0),
        lit(walksPerVertex - 1))).as("t"), col("id"))
      .select((col("id") * walksPerVertex + col("t")).as("walk"),
        col("id").as("cur"))
    var out = frontier.select(col("walk"), lit(0).as("step"),
      col("cur").as("id"))
    for (s <- 1 to walkLength) {
      // alias-qualify: round ≥ 2 joins an nb-derived frontier back
      // against nb (a self-join by lineage)
      frontier = frontier.alias("f").join(nb.alias("n"),
          col("f.cur") === col("n.src") &&
            col("n.rk") === key(col("f.walk"), s, col("f.cur")) % col("n.d"))
        .select(col("f.walk").as("walk"), col("n.dst").as("cur"))
      out = out.unionByName(frontier.select(col("walk"),
        lit(s).as("step"), col("cur").as("id")))
    }
    out
  }

  /** +G: node2vec-style SECOND-ORDER biased walks (Grover & Leskovec
    * 2016) — the walk corpus whose hop distribution depends on the
    * PREVIOUS vertex: a candidate next-hop is weighted `wReturn` if
    * it returns to the previous vertex, `wCommon` if it is also a
    * neighbor of the previous vertex (BFS-ish move), `wFar`
    * otherwise (DFS-ish move) — integer weights standing in for the
    * paper's 1/p, 1, 1/q. Deterministic like [[randomWalks]]: the
    * hop is picked by the portable (walk, step, cur) mix reduced mod
    * the candidates' total weight, landing in a cumulative-weight
    * range — every transition a pure function of the graph, so the
    * oracle can replay it.
    *
    * The biased adjacency (prev, cur, dst, weight range) is
    * PRECOMPUTED once — the node2vec paper's own preprocessing trade
    * (alias tables per directed edge): O(Σ_{(u,v)∈E} deg(v)) rows,
    * one window shuffle keyed by (prev, cur). Steps are then one
    * equi-join each on (prev, cur) — O(walkLength) joins for ANY
    * number of walks. Step 1 has no previous vertex and uses the
    * first-order ranked adjacency, exactly like [[randomWalks]].
    * A walker stops when no positively-weighted candidate exists
    * (sink, or all candidates in zero-weight classes).
    */
  def node2vecWalks(vertices: DataFrame, edges: DataFrame,
      walkLength: Int, wReturn: Int = 1, wCommon: Int = 4,
      wFar: Int = 2, walksPerVertex: Int = 1,
      undirected: Boolean = false): DataFrame = {
    require(walksPerVertex >= 1 && walkLength >= 1,
      "need at least one walk of at least one step")
    require(wReturn >= 0 && wCommon >= 0 && wFar >= 0 &&
      (wReturn max wCommon max wFar) >= 1,
      "class weights must be non-negative with at least one positive")
    val eDir = edges.select(col("src"), col("dst"))
    val all = graft.TransientCache.persist((if (undirected)
        eDir.unionByName(eDir.select(col("dst").as("src"),
          col("src").as("dst")))
      else eDir).distinct())
    // first-order ranked adjacency for step 1 (randomWalks's shape)
    val w1 = Window.partitionBy("src").orderBy("dst")
    val nb = graft.TransientCache.persist(all.select(col("src"),
      col("dst"), (row_number().over(w1) - 1).cast("long").as("rk"),
      count(lit(1)).over(Window.partitionBy("src")).as("d")))
    // biased adjacency: candidates of cur given prev, with the
    // common-neighbor flag from one left-semi-style join
    val cand = all.select(col("src").as("prev"), col("dst").as("cur"))
      .join(all.select(col("src").as("cur"), col("dst")), Seq("cur"))
    val prevEdge = all.select(col("src").as("prev"),
      col("dst").as("dst"), lit(1).as("is_common"))
    val weighted = cand.join(prevEdge, Seq("prev", "dst"), "left")
      .select(col("prev"), col("cur"), col("dst"),
        when(col("dst") === col("prev"), lit(wReturn.toLong))
          .when(col("is_common").isNotNull, lit(wCommon.toLong))
          .otherwise(lit(wFar.toLong)).as("wt"))
      .filter(col("wt") > 0)
    val w2 = Window.partitionBy("prev", "cur").orderBy("dst")
    val badj = graft.TransientCache.persist(weighted.select(
      col("prev"), col("cur"), col("dst"),
      (sum(col("wt")).over(w2) - col("wt")).as("lo"),
      sum(col("wt")).over(w2).as("hi"),
      sum(col("wt")).over(Window.partitionBy("prev", "cur")).as("tot")))
    def key(walk: Column, step: Int, cur: Column): Column =
      (walk % 1000003L) * 1103515245L + lit(step.toLong) * 12345L +
        (cur % 1000033L) * 2654435761L
    val starts = vertices.select(explode(sequence(lit(0),
        lit(walksPerVertex - 1))).as("t"), col("id"))
      .select((col("id") * walksPerVertex + col("t")).as("walk"),
        col("id").as("cur"))
    var out = starts.select(col("walk"), lit(0).as("step"),
      col("cur").as("id"))
    // step 1: first-order pick; frontier then carries (walk, prev, cur)
    var frontier = starts.alias("f").join(nb.alias("n"),
        col("f.cur") === col("n.src") &&
          col("n.rk") === key(col("f.walk"), 1, col("f.cur")) % col("n.d"))
      .select(col("f.walk").as("walk"), col("f.cur").as("prev"),
        col("n.dst").as("cur"))
    out = out.unionByName(frontier.select(col("walk"),
      lit(1).as("step"), col("cur").as("id")))
    for (s <- 2 to walkLength) {
      val r = key(col("f.walk"), s, col("f.cur"))
      frontier = frontier.alias("f").join(badj.alias("b"),
          col("f.prev") === col("b.prev") &&
            col("f.cur") === col("b.cur") &&
            pmod(r, col("b.tot")) >= col("b.lo") &&
            pmod(r, col("b.tot")) < col("b.hi"))
        .select(col("f.walk").as("walk"), col("f.cur").as("prev"),
          col("b.dst").as("cur"))
      out = out.unionByName(frontier.select(col("walk"),
        lit(s).as("step"), col("cur").as("id")))
    }
    out
  }

  /** G18 (graft extension): k-bounded betweenness centrality — exact
    * Brandes (2001) over ALL sources simultaneously, truncated at
    * `maxHops` (Borgatti & Everett's k-betweenness: only pairs within
    * distance k contribute — the standard large-graph bound, since
    * exact betweenness is inherently O(V·E) data volume).
    *
    * Forward pass: one bulk BFS keyed by (source, id) where each
    * frontier row carries σ (shortest-path counts); a level's σ is
    * the map-side-combined SUM of its predecessors' σ — every source
    * advances in the SAME O(diameter) join rounds, never per-source.
    * Backward pass: one join round per level, descending — δ(v) =
    * Σ_{w∈succ(v)} σ(v)/σ(w)·(1+δ(w)) — using the per-level frames
    * the forward pass already materialized (no re-filtering of the
    * cumulative state). BC(v) = Σ over sources of δ(v), halved when
    * undirected (each unordered pair is seen from both endpoints).
    *
    * Scale posture: state volume is Σ levels = O(V · reach-within-k),
    * the irreducible cost of exact betweenness — `maxHops` bounds it;
    * for V beyond that, pass a SAMPLED `sources` frame (Brandes-Pich
    * pivot estimation: result is the partial sum over the sample;
    * callers scale by V/|S|). Frontiers and δ frames are
    * lineage-cut every round and broadcast-hinted while they fit the
    * broadcast license, same economics as [[multiSourceBfs]]. Edges are
    * de-duplicated up front: σ counts PATHS, so a parallel edge copy
    * (or a pre-doubled undirected list fed with `undirected=true`)
    * would silently double counts.
    */
  def betweennessCentrality(edges: DataFrame, vertices: DataFrame,
      maxHops: Int, undirected: Boolean = false,
      sources: Option[DataFrame] = None): DataFrame = {
    val rel = graft.Lineage.reliable(edges.sparkSession)
    val eDir = edges.select(col("src"), col("dst"))
    val e = (if (undirected)
        eDir.unionByName(eDir.select(col("dst").as("src"), col("src").as("dst")))
      else eDir).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    // Per-level frames (already materialized by their cut) + exact
    // counts — the backward pass replays them without re-filtering.
    val levels = scala.collection.mutable.ArrayBuffer(cutCount(
      sources.getOrElse(vertices).select(col("id")).distinct()
        .select(col("id").as("source"), col("id"), lit(1.0).as("sigma")),
      rel))
    try {
      var visited = levels(0)._1.select(col("source"), col("id"))
      var visitedCount = levels(0)._2
      var hop = 1
      var done = levels(0)._2 == 0L
      while (!done && hop <= maxHops) {
        val (frontier, frontierCount) = levels.last
        val fr = Broadcast.hint(frontier, frontierCount)
        val cand = fr.join(e, fr("id") === e("src"))
          .select(fr("source"), e("dst").as("id"), fr("sigma"))
          .groupBy("source", "id").agg(sum("sigma").as("sigma"))
        val visSide = Broadcast.hint(
          visited.select(col("source").as("__v_src"), col("id").as("__v_id")),
          visitedCount)
        val (next, cnt) = cutCount(cand.join(visSide,
            col("source") === col("__v_src") && col("id") === col("__v_id"),
            "left_anti")
          .select(col("source"), col("id"), col("sigma")), rel)
        if (cnt == 0L) done = true
        else {
          visited = visited.unionByName(next.select(col("source"), col("id")))
          visitedCount += cnt
          levels += ((next, cnt))
        }
        hop += 1
      }
      // Backward sweep: δ flows one level down per round; a level's
      // BC contribution is its δ (w ≠ source holds because only
      // levels ≥ 1 contribute). The per-id BC sum accumulates
      // INCREMENTALLY (V-sized running frame, cut each round) instead
      // of a lazy union over every level — so once a round's δ and
      // accumulator are materialized, that level's frame (the big
      // Σ-reach state) has NO live reader and its blocks are freed
      // immediately. Without the rotation the sweep holds hops ×
      // frontier localCheckpoint blocks to the end — the same backlog
      // OOM the span fixpoint's memory rotation closes.
      var delta: DataFrame = null
      var bcAcc: DataFrame = null
      for (d <- (levels.size - 1) to 1 by -1) {
        val (lvl, lvlCount) = levels(d)
        val lvlD = (if (delta == null) lvl.withColumn("delta", lit(0.0))
          else lvl.join(delta, Seq("source", "id"), "left")
            .na.fill(0.0, Seq("delta")))
          .select(col("source"), col("id").as("wid"),
            col("sigma").as("wsigma"), col("delta"))
        // fold this level's contribution (incl. explicit 0.0 rows for
        // reached-but-never-interior vertices) into the running sum
        val part = lvlD.groupBy(col("wid").as("id"))
          .agg(sum(col("delta")).as("delta"))
        val prevAcc = bcAcc
        bcAcc = (if (bcAcc == null) part
          else bcAcc.unionByName(part)
            .groupBy("id").agg(sum(col("delta")).as("delta"))).cut(rel)
        if (prevAcc != null) graft.Lineage.freeCut(prevAcc)
        val w = Broadcast.hint(lvlD, lvlCount)
        val viaEdge = w.join(e, w("wid") === e("dst"))
          .select(w("source"), e("src").as("id"),
            col("wsigma"), col("delta"))
        val (prevLvl, prevCount) = levels(d - 1)
        val prev = Broadcast.hint(
          prevLvl.select(col("source"), col("id"),
            col("sigma").as("vsigma")),
          prevCount)
        val consumedDelta = delta
        delta = viaEdge.join(prev, Seq("source", "id"))
          .groupBy("source", "id")
          .agg(sum(col("vsigma") / col("wsigma") *
            (lit(1.0) + col("delta"))).as("delta"))
          .cut(rel)
        // both eager consumers of level d (bcAcc, new δ) are
        // materialized; prev (level d-1) stays for the next round
        graft.Lineage.freeCut(lvl)
        if (consumedDelta != null) graft.Lineage.freeCut(consumedDelta)
        levels(d) = (null, 0L)
      }
      if (delta != null) graft.Lineage.freeCut(delta)
      graft.Lineage.freeCut(levels(0)._1)
      if (bcAcc == null)
        edges.sparkSession.emptyDataFrame
          .select(lit(0L).as("id"), lit(0.0).as("betweenness")).limit(0)
      else {
        val scale = if (undirected) 0.5 else 1.0
        bcAcc.select(col("id"),
          (col("delta") * lit(scale)).as("betweenness"))
      }
    } finally {
      e.unpersist(blocking = false)
    }
  }

  /** G16 (graft extension): Adamic-Adar link prediction over a
    * bipartite incidence list `(node, hub)` — the reference exposes
    * common-neighbor counting (storage lib.rs:896-929 two-hop sets);
    * AA is the same sweep with the standard degree damping:
    * score(a, b) = Σ over shared hubs h of 1 / ln(deg(h)), so a hub
    * shared by few nodes certifies similarity more than a crowded
    * one (Adamic & Adar 2003).
    *
    * Scale posture: the pair fanout is the only quadratic term and it
    * is per-hub (Σ deg²). Degree-1 hubs produce no pairs and ln(1)=0
    * would divide by zero, so the degree aggregate filters them
    * BEFORE the fanout join — and `maxHubDegree` drops pathological
    * crowd hubs (a hub shared by 100k nodes adds 5·10⁹ pairs of
    * near-zero weight ≈ noise), the same df-cap discipline as the
    * n-gram dedup candidates. Both joins key on `hub`, so the
    * incidence shuffles ONCE and the weight join reuses the
    * partitioning; the aggregate is a map-side-combined sum.
    */
  def adamicAdar(incidence: DataFrame,
      maxHubDegree: Int = 100000): DataFrame = {
    val e = graft.TransientCache.persist(
      incidence.select(col("node"), col("hub")).distinct())
    val w = e.groupBy("hub").agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2 && col("d") <= maxHubDegree)
      .select(col("hub"), (lit(1.0) / log(col("d").cast("double"))).as("w"))
    val a = e.select(col("hub"), col("node").as("n1"))
    val b = e.select(col("hub").as("hub2"), col("node").as("n2"))
    a.join(w, Seq("hub"))
      .join(b, col("hub") === col("hub2") && col("n1") < col("n2"))
      .groupBy("n1", "n2").agg(sum("w").as("aa"))
  }

  /** HyperANF neighborhood function (Boldi, Rosa & Vigna, WWW 2011 —
    * public): N(h) = |{(u, v) : dist(u, v) ≤ h}|, the curve whose
    * shape gives effective diameter, average distance, and the
    * hop-plot — estimated by giving every vertex an HLL sketch of
    * its reachable set ({itself} at h=0) and, each round, max-merging
    * every out-neighbor's sketch into its own: after h rounds
    * sketch(u) summarizes exactly the ≤h-hop reachable set, and
    * N(h) is the sum of per-vertex estimates. Returns
    * (h, estimated pairs) for h ∈ [0, maxHops] — maxHops+1 longs,
    * the only driver-side data.
    *
    * Why this is THE 100 TB diameter algorithm: exact N(h) is
    * all-pairs BFS — O(V) traversals, each O(V+E), with O(V²)
    * visited state (the g17/g25 bulk form pays exactly that; fine at
    * 10⁴ vertices, impossible at 10⁹). HyperANF replaces the
    * per-(source, vertex) visited pair with 2^lgK registers per
    * vertex: each round is ONE edge join + ONE groupBy-on-id
    * (register max is associative, so the merge is a plain partial
    * aggregate), state is V × ~KB regardless of reachability volume,
    * and rounds stop at the (small-world) diameter. Per-vertex
    * estimates are monotone under register max, errors are the HLL
    * envelope (rsd 1.04/√2^lgK; the SUM's relative error is no
    * worse — the shared hash function correlates per-vertex errors,
    * so no √V cancellation is claimed).
    *
    * Round frames rotate through `Lineage.freeCut` (the betweenness
    * level-rotation discipline): each round's state is cut once,
    * read twice (join + total), and freed when the next round lands.
    */
  def neighborhoodFunction(edges: DataFrame, vertices: DataFrame,
      maxHops: Int, undirected: Boolean = false,
      lgK: Int = 12): Seq[(Int, Long)] = {
    require(maxHops >= 0 && lgK >= 4 && lgK <= 21,
      s"need maxHops >= 0 and lgK in [4, 21], got $maxHops/$lgK")
    val e0 = edges.select(col("src"), col("dst"))
    val eAll = if (undirected)
      e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    else e0
    // h=0: singleton sketches (HLL is exact at cardinality 1, so the
    // h=0 total is V exactly)
    var state = vertices.select(col("id")).distinct()
      .groupBy("id").agg(hll_sketch_agg(col("id"), lgK).as("sk"))
      .cut(reliable = false)
    def total(st: DataFrame): Long =
      st.agg(sum(hll_sketch_estimate(col("sk")))).head().getLong(0)
    val out = scala.collection.mutable.Buffer((0, total(state)))
    for (h <- 1 to maxHops) {
      val contrib = eAll
        .join(state.select(col("id").as("dst"), col("sk")), "dst")
        .select(col("src").as("id"), col("sk"))
      val next = state.unionByName(contrib)
        .groupBy("id").agg(hll_union_agg(col("sk")).as("sk"))
        .cut(reliable = false)
      graft.Lineage.freeCut(state)
      state = next
      out += ((h, total(state)))
    }
    graft.Lineage.freeCut(state)
    out.toSeq
  }

  // ------------------------------------------------------------------
  // G29: Louvain community detection (Blondel et al. 2008, public).
  // ------------------------------------------------------------------

  /** Canonicalize an edge frame for the Louvain family: (src, dst, w)
    * with src <= dst, parallel rows summed, weights double-cast. A
    * missing `w` column means the unweighted graph (w = 1). Self
    * loops are allowed — condensed level graphs produce them.
    */
  private def louvainEdges(edges: DataFrame): DataFrame = {
    val w = if (edges.columns.contains("w")) col("w").cast("double")
      else lit(1.0)
    edges.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"), w.as("w"))
      .groupBy("src", "dst").agg(sum("w").as("w"))
  }

  /** Weighted degree k_v over canonical (src, dst, w) edges with
    * self-loops: a non-self edge adds w to both endpoints, a self
    * loop adds 2w to its vertex (the convention under which
    * condensation preserves modularity — an intra-community edge
    * carried two endpoint-degrees before it became a self loop).
    */
  private def louvainDegrees(e: DataFrame): DataFrame =
    e.filter(col("src") =!= col("dst"))
      .select(col("src").as("id"), col("w"))
      .unionByName(e.filter(col("src") =!= col("dst"))
        .select(col("dst").as("id"), col("w")))
      .unionByName(e.filter(col("src") === col("dst"))
        .select(col("src").as("id"), (col("w") * 2).as("w")))
      .groupBy("id").agg(sum("w").as("kv"))

  /** Weighted Newman modularity of an assignment over canonical
    * self-loop-capable edges: Q = Σ_c [e_c/m − (D_c/(2m))²] with
    * e_c = intra-community weight (self loops count once), D_c the
    * community's weighted-degree sum, m the total edge weight. On an
    * unweighted simple graph this is exactly [[modularity]]'s Q (the
    * driver-facing per-community form); this scalar twin is the
    * per-round improvement check of the Louvain loop, where levels
    * are weighted and carry self loops.
    */
  def weightedModularity(edges: DataFrame, comm: DataFrame): Double = {
    val e = louvainEdges(edges)
    val m = e.agg(sum("w")).head().getDouble(0)
    require(m > 0, "modularity needs at least one edge")
    val state = comm.select(col("id"), col("comm"))
      .join(louvainDegrees(e), Seq("id"))
    val r = louvainQParts(e, state).head()
    r.getDouble(0) / m - r.getDouble(1) / (4 * m * m)
  }

  /** The two Q ingredients — (intra, Σ D_c²) — as ONE single-row
    * frame (two aggregates crossJoined), so a Q evaluation costs one
    * Spark action, not two. `state` must carry (id, comm, kv); rows
    * absent from it are degree-0 and contribute to neither term.
    */
  private def louvainQParts(e: DataFrame, state: DataFrame): DataFrame = {
    val ca = state.select(col("id").as("src"), col("comm").as("ca"))
    val cb = state.select(col("id").as("dst"), col("comm").as("cb"))
    val intra = e.join(ca, Seq("src")).join(cb, Seq("dst"))
      .filter(col("ca") === col("cb"))
      .agg(coalesce(sum("w"), lit(0.0)).as("intra"))
    val dcsq = state.groupBy("comm").agg(sum("kv").as("dc"))
      .agg(coalesce(sum(col("dc") * col("dc")), lit(0.0)).as("dcsq"))
    intra.crossJoin(dcsq)
  }

  /** Per-vertex best positive-gain move against frozen `state`
    * (id, comm, kv): (id, comm, target, gain), one row per vertex
    * with any strictly-positive move. The gain expression is the
    * SAME formula [[modularityMoveViolations]] evaluates — the loop's
    * fixpoint and the driver oracle's emptiness must agree bit for
    * bit, so neither may refactor the arithmetic alone.
    *
    * Plan shape (the loop runs this every round, so stage count is
    * the round's cost): three shuffles — the community-total
    * aggregate, the neighbor-community aggregate (a zero own-row per
    * vertex is unioned in BEFORE the aggregate so k_{v,a}/D_a resolve
    * per-row via one window instead of a self-join), and the window —
    * plus broadcast-sized joins of `state` and the community totals.
    * The final per-vertex argmax groups on the window's partitioning
    * and adds no exchange.
    */
  private def louvainBest(ee: DataFrame, state: DataFrame, m: Double,
      eps: Double): DataFrame = {
    val dtot = state.groupBy("comm").agg(sum("kv").as("dtot"))
    val kvc = ee
      .join(state.select(col("id").as("nbr"), col("comm").as("c")), Seq("nbr"))
      .select(col("id"), col("c"), col("w"))
      .unionByName(state.select(col("id"), col("comm").as("c"),
        lit(0.0).as("w")))
      .groupBy("id", "c").agg(sum("w").as("kvc"))
    val win = Window.partitionBy("id")
    kvc.join(state, Seq("id"))
      .join(dtot.select(col("comm").as("c"), col("dtot").as("dc")), Seq("c"))
      .withColumn("kva", max(when(col("c") === col("comm"),
        col("kvc"))).over(win))
      .withColumn("da", max(when(col("c") === col("comm"),
        col("dc"))).over(win))
      .filter(col("c") =!= col("comm"))
      .select(col("id"), col("comm"), col("c"),
        ((col("kvc") - col("kva")) / m -
          col("kv") * (col("dc") - col("da") + col("kv")) /
            (2 * m * m)).as("gain"))
      .filter(col("gain") > eps)
      .groupBy("id", "comm")
      .agg(min(struct((-col("gain")).as("ng"), col("c"))).as("b"))
      .select(col("id"), col("comm"),
        col("b.c").as("target"), (-col("b.ng")).as("gain"))
  }

  /** One level of Louvain local moving. With `minMovers` = 1 the loop
    * runs to a CERTIFIED fixpoint: an (id, comm) assignment under
    * which NO vertex has a strictly-positive modularity gain moving
    * to any neighboring community (the standard parallel-Louvain
    * phase-1 contract — [[modularityMoveViolations]] re-derives the
    * certificate independently). With `minMovers` > 1 it returns
    * early once an accepted round moves fewer vertices than that —
    * the long tail of tiny rounds is deferred to the caller's final
    * polish pass, which runs at `minMovers` = 1 and restores the
    * certificate.
    *
    * Synchronous parallel moving is order-free and deterministic but
    * can interfere (simultaneous movers change each other's Σtot, and
    * adjacent singletons can swap forever). Each round therefore
    * executes the full positive-gain move set and ACCEPTS it only if
    * Q measurably improved (interference is detected by measurement,
    * never assumed away); a rejected round retries with only the
    * parity-direction movers (odd rounds move to larger community
    * ids, even to smaller — a swap cycle must mix directions, so the
    * oscillating half is excluded), and if that too fails, executes
    * only the globally best (gain, then smallest id) move, whose
    * frozen-state gain is EXACT when nothing else moves — accepted
    * progress is then ≥ eps and the loop terminates (Q is bounded
    * above). Convergence is declared only when the UNRESTRICTED
    * positive-gain candidate set is empty, so the fallback tiers
    * never weaken the final certificate. Determinism note: on
    * integer-valued weights (the unweighted graph and every condensed
    * level of it) all gains are exact integer-ratio arithmetic — no
    * float-summation order wobble — so the whole pass is a pure
    * function of the graph.
    *
    * Cost discipline: a round is TWO Spark actions — the eager
    * lineage cut of the tentative assignment (which materializes the
    * whole [[louvainBest]] plan once, into the round's persisted
    * candidate frame) and one single-row collect that crossJoins the
    * candidate/direction counts with [[louvainQParts]] of the
    * tentative state. Fallback tiers add two actions each and are
    * rare. No windows over the full graph, no driver loops; state is
    * cut every round and the previous round's frames are freed
    * eagerly ([[graft.Lineage.freeCut]]).
    *
    * Returns (assignment over ALL of `vertices` — isolated vertices
    * re-attached as their own singletons, seed Q, final Q).
    */
  private def louvainLocalMoves(vertices: DataFrame, e: DataFrame,
      seed: DataFrame, eps: Double, maxRounds: Int,
      minMovers: Long): (DataFrame, Double, Double) = {
    val m = e.agg(sum("w")).head().getDouble(0)
    require(m > 0, "louvain needs at least one edge")
    val nonself = e.filter(col("src") =!= col("dst"))
    val ee = graft.TransientCache.persist(
      nonself.select(col("src").as("id"), col("dst").as("nbr"), col("w"))
        .unionByName(nonself.select(col("dst").as("id"),
          col("src").as("nbr"), col("w"))))
    val deg = graft.TransientCache.persist(louvainDegrees(e))
    var state = seed.select(col("id"), col("comm"))
      .join(deg, Seq("id")).select(col("id"), col("comm"), col("kv"))
      .cut(false)
    def qOf(asg: DataFrame): Double = {
      val r = louvainQParts(e, asg).head()
      r.getDouble(0) / m - r.getDouble(1) / (4 * m * m)
    }
    val q0 = qOf(state)
    var q = q0
    var round = 0
    var converged = false
    var stop = false
    while (!converged && !stop) {
      round += 1
      require(round <= maxRounds,
        s"louvain local moving did not converge in $maxRounds rounds")
      // per-round frame, rotated eagerly (plain persist + unpersist,
      // not TransientCache — a loop must not grow the release queue)
      val best = louvainBest(ee, state, m, eps).persist()
      def tentativeOf(movers: DataFrame): DataFrame =
        state.join(movers.select(col("id"), col("target")), Seq("id"), "left")
          .select(col("id"), coalesce(col("target"), col("comm")).as("comm"),
            col("kv"))
          .cut(false)
      val dirOdd = col("target") > col("comm")
      val t1 = tentativeOf(best)
      val r = best.agg(count(lit(1)).as("nb"),
          count(when(dirOdd, 1)).as("nOdd"))
        .crossJoin(louvainQParts(e, t1)).head()
      val nb = r.getLong(0)
      val nOdd = r.getLong(1)
      val q1 = r.getDouble(2) / m - r.getDouble(3) / (4 * m * m)
      var movers = nb
      if (nb == 0) { graft.Lineage.freeCut(t1); converged = true }
      else if (q1 > q + 1e-12) {
        graft.Lineage.freeCut(state); state = t1; q = q1
      } else {
        // tier 2: parity-direction movers only
        graft.Lineage.freeCut(t1)
        val odd = round % 2 == 1
        val dir = if (odd) dirOdd else !dirOdd
        movers = if (odd) nOdd else nb - nOdd
        val t2 = tentativeOf(best.filter(dir))
        val q2 = qOf(t2)
        if (movers > 0 && q2 > q + 1e-12) {
          graft.Lineage.freeCut(state); state = t2; q = q2
        } else {
          // tier 3: the single globally best move — its frozen-state
          // gain is exact, so the improvement is strict by
          // construction (no acceptance test needed)
          graft.Lineage.freeCut(t2)
          val t3 = tentativeOf(
            best.orderBy(col("gain").desc, col("id").asc).limit(1))
          graft.Lineage.freeCut(state); state = t3
          q = qOf(t3)
          movers = 1
        }
      }
      best.unpersist(blocking = false)
      if (!converged && minMovers > 1 && movers < minMovers) stop = true
    }
    // vertices with no edges never message and never appear in e —
    // re-attach them as the singletons they are; cut BEFORE freeing
    // the loop state it reads
    val out = vertices.select(col("id"))
      .join(state.select(col("id"), col("comm")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comm"), col("id")).as("comm"))
      .cut(false)
    graft.Lineage.freeCut(state)
    ee.unpersist(); deg.unpersist()
    (out, q0, q)
  }

  /** Strongly connected components of a COLLECTED directed graph —
    * the driver-local finish of [[stronglyConnectedComponents]].
    * Tarjan's algorithm over a CSR adjacency with an explicit call
    * stack (per-vertex edge cursors), so a 10⁵-deep path or ring needs
    * no JVM stack: O(V + E) time, a few int arrays of memory. Returns
    * the label of each entry of `vertIds`, position for position
    * (duplicates included): the smallest member id of its component,
    * the convention the distributed loop emits. Edges with an
    * endpoint outside `vertIds` are ignored.
    */
  private[graft] def sccLocalSolve(vertIds: Array[Long],
      edges: Array[(Long, Long)]): Array[Long] = {
    val vids = vertIds.distinct.sorted
    val n = vids.length
    def ix(id: Long): Int = java.util.Arrays.binarySearch(vids, id)
    val ends = edges.iterator.map { case (s, d) => (ix(s), ix(d)) }
      .filter { case (a, b) => a >= 0 && b >= 0 }.toArray
    // CSR: the out-neighbors of v are adj(off(v) until off(v + 1))
    val off = new Array[Int](n + 1)
    ends.foreach { case (a, _) => off(a + 1) += 1 }
    for (v <- 0 until n) off(v + 1) += off(v)
    val adj = new Array[Int](ends.length)
    val fill = java.util.Arrays.copyOf(off, n)
    ends.foreach { case (a, b) => adj(fill(a)) = b; fill(a) += 1 }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val cursor = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n)
    val calls = new Array[Int](n)
    val label = new Array[Long](n)
    var sp = 0
    var counter = 0
    def visit(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      cursor(v) = off(v)
      stack(sp) = v; sp += 1; onStack(v) = true
    }
    for (root <- 0 until n if index(root) < 0) {
      visit(root)
      var depth = 0
      calls(0) = root
      while (depth >= 0) {
        val v = calls(depth)
        if (cursor(v) < off(v + 1)) {
          val w = adj(cursor(v))
          cursor(v) += 1
          if (index(w) < 0) { visit(w); depth += 1; calls(depth) = w }
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          if (low(v) == index(v)) {
            // pop v's component; vids is sorted, so its smallest
            // dense index is its smallest id
            val top = sp
            var minIx = v
            do { sp -= 1; minIx = math.min(minIx, stack(sp)) }
            while (stack(sp) != v)
            for (i <- sp until top) {
              onStack(stack(i)) = false
              label(stack(i)) = vids(minIx)
            }
          }
          depth -= 1
          if (depth >= 0) low(calls(depth)) = math.min(low(calls(depth)), low(v))
        }
      }
    }
    vertIds.map(id => label(ix(id)))
  }

  /** Deterministic sequential multi-level Louvain on a COLLECTED
    * level graph — the count-gated local finisher for condensed
    * levels (see [[louvain]]): once condensation shrinks a level
    * graph under the gate, finishing it on the driver replaces
    * O(rounds) distributed fixed costs with microseconds, the same
    * bounded-collect discipline as the ANN model collects. Sweeps
    * vertices in ascending id order, moves each to its best
    * positive-gain neighboring community (gain ties broken by
    * smallest community id — the same (gain, id) order as the
    * distributed tiers), repeats until a full sweep moves nothing,
    * condenses, and recurses. Returns vertexId → community label,
    * labels = smallest original member id (stable across runs).
    */
  private[graft] def louvainLocalSolve(vertIds: Array[Long],
      edges: Array[(Long, Long, Double)], eps: Double): Map[Long, Long] = {
    val vids = vertIds.distinct.sorted
    val n = vids.length
    if (n == 0) return Map.empty
    val idx = vids.zipWithIndex.toMap
    var topOf = Array.tabulate(n)(identity) // original idx -> level node
    var curEdges = edges.map { case (s, d, w) => (idx(s), idx(d), w) }
    var curN = n
    var improvedLevel = true
    var level = 0
    while (improvedLevel && level < 64) {
      level += 1
      val adj = Array.fill(curN)(
        scala.collection.mutable.ArrayBuffer.empty[(Int, Double)])
      val kv = new Array[Double](curN)
      var m = 0.0
      for ((s, d, w) <- curEdges) {
        m += w
        if (s == d) kv(s) += 2 * w
        else {
          adj(s) += ((d, w)); adj(d) += ((s, w))
          kv(s) += w; kv(d) += w
        }
      }
      if (m <= 0) improvedLevel = false
      else {
        val comm = Array.tabulate(curN)(identity)
        val ctot = kv.clone()
        var movedAny = false
        var sweepMoved = true
        while (sweepMoved) {
          sweepMoved = false
          var v = 0
          while (v < curN) {
            val a = comm(v)
            val kvcm = scala.collection.mutable.SortedMap.empty[Int, Double]
            for ((u, w) <- adj(v))
              kvcm(comm(u)) = kvcm.getOrElse(comm(u), 0.0) + w
            val kva = kvcm.getOrElse(a, 0.0)
            val daEx = ctot(a) - kv(v)
            var bestC = a
            var bestGain = eps
            for ((c, kvcW) <- kvcm if c != a) {
              val gain = (kvcW - kva) / m -
                kv(v) * (ctot(c) - daEx) / (2 * m * m)
              if (gain > bestGain) { bestGain = gain; bestC = c }
            }
            if (bestC != a) {
              ctot(a) -= kv(v); ctot(bestC) += kv(v); comm(v) = bestC
              sweepMoved = true; movedAny = true
            }
            v += 1
          }
        }
        if (!movedAny) improvedLevel = false
        else {
          val labels = comm.distinct.sorted
          val ren = labels.zipWithIndex.toMap
          topOf = topOf.map(t => ren(comm(t)))
          val em = scala.collection.mutable.HashMap.empty[(Int, Int), Double]
          for ((s, d, w) <- curEdges) {
            val a = ren(comm(s)); val b = ren(comm(d))
            val k = if (a <= b) (a, b) else (b, a)
            em(k) = em.getOrElse(k, 0.0) + w
          }
          curEdges = em.toArray.map { case ((a, b), w) => (a, b, w) }
          curN = labels.length
        }
      }
    }
    val label = scala.collection.mutable.HashMap.empty[Int, Long]
    for (i <- 0 until n) {
      val c = topOf(i)
      if (!label.contains(c) || label(c) > vids(i)) label(c) = vids(i)
    }
    (0 until n).map(i => vids(i) -> label(topOf(i))).toMap
  }

  /** G29 (graft extension): Louvain community detection — multi-level
    * modularity maximization (Blondel et al. 2008). Level 1 runs
    * [[louvainLocalMoves]] on the raw graph (with an early-stop once
    * rounds move under ~1% of vertices — the tail is finished by the
    * polish pass), condenses communities into super-vertices (intra
    * weight becomes a self loop — Q-preserving by construction, so
    * coarse improvements ARE fine improvements), and repeats on the
    * weighted level graph; once a condensed level's edge frame fits
    * the broadcast license ([[graft.Broadcast.fits]], the gate SCC's
    * local finish uses) it is COLLECTED and finished by the
    * deterministic sequential solver ([[louvainLocalSolve]]) — a
    * count-gated bounded collect, since condensation shrinks levels
    * geometrically while each distributed round costs fixed scheduler
    * overhead regardless of data size. A final vertex-level polish
    * pass re-runs local moving to its certified fixpoint on the
    * ORIGINAL graph seeded with the projected assignment, so the
    * returned partition carries the vertex-level local-optimum
    * certificate no matter what the coarse levels did. Returns
    * (id, community) for every vertex; isolated vertices are their
    * own singletons. Deterministic (see [[louvainLocalMoves]]).
    *
    * Scale posture: every distributed step is keyed joins +
    * map-side-combined aggregates on vertex/community ids; the
    * dominant cost is level 1 on the raw edge list — the same
    * per-round economics as [[labelPropagation]], times a
    * measured-small round count. At 100 TB the gate (the session
    * byte budget over a 24-byte (src, dst, w) row: about 437k
    * condensed edges at the 10 MB default) may not be reached for
    * several levels — each extra level runs distributed, exactly as
    * level 1 does; a session `spark.sql.autoBroadcastJoinThreshold`
    * below one row's width forces every level distributed (the
    * equivalence is pinned in AlgoSpec).
    */
  def louvain(vertices: DataFrame, edges: DataFrame,
      eps: Double = 1e-9, maxLevels: Int = 4,
      maxRounds: Int = 200): DataFrame = {
    val spark = vertices.sparkSession
    val e0 = graft.TransientCache.persist(louvainEdges(edges))
    val verts = vertices.select(col("id"))
    var comm = verts.select(col("id"), col("id").as("comm"))
    var level = 0
    var el = e0
    var levelVerts = verts
    var improved = true
    while (improved && level < maxLevels) {
      level += 1
      val nV = levelVerts.count()
      val minMovers = if (nV > 500) math.max(4L, nV / 100) else 1L
      val (lcomm, ql0, ql1) = louvainLocalMoves(levelVerts, el,
        levelVerts.select(col("id"), col("id").as("comm")), eps, maxRounds,
        minMovers)
      improved = ql1 > ql0 + 1e-12
      if (improved) {
        comm = graft.TransientCache.persist(
          comm.join(lcomm.select(col("id").as("comm"),
              col("comm").as("nc")), Seq("comm"))
            .select(col("id"), col("nc").as("comm")))
        val lc = lcomm.select(col("id").as("v"), col("comm").as("c"))
        el = graft.TransientCache.persist(
          el.join(lc.select(col("v").as("src"), col("c").as("ca")), Seq("src"))
            .join(lc.select(col("v").as("dst"), col("c").as("cb")), Seq("dst"))
            .select(least(col("ca"), col("cb")).as("src"),
              greatest(col("ca"), col("cb")).as("dst"), col("w"))
            .groupBy("src", "dst").agg(sum("w").as("w")))
        levelVerts = graft.TransientCache.persist(
          lcomm.select(col("comm").as("id")).distinct())
        if (Broadcast.fits(el, el.count())) {
          // count-gated local finish of the remaining (tiny) levels
          val eRows = el.select("src", "dst", "w").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          val vRows = levelVerts.collect().map(_.getLong(0))
          val mapping = louvainLocalSolve(vRows, eRows, eps)
          if (mapping.nonEmpty) {
            val mapDf = spark.createDataFrame(mapping.toSeq)
              .toDF("comm", "nc")
            comm = graft.TransientCache.persist(
              comm.join(mapDf, Seq("comm"))
                .select(col("id"), col("nc").as("comm")))
          }
          improved = false
        }
      }
    }
    // vertex-level polish: re-establish the per-vertex certificate on
    // the original graph (coarse levels move whole blocks, which can
    // leave an individual vertex with a positive-gain move)
    louvainLocalMoves(verts, e0, comm, eps, maxRounds, 1L)._1
      .select(col("id"), col("comm").as("community"))
  }

  /** The Louvain certificate, re-derived independently of the loop:
    * for assignment `comm` over `edges`, emit every (vertex,
    * neighboring community) move whose exact modularity delta exceeds
    * `eps` — empty iff the assignment is a per-vertex local optimum.
    * The delta is the textbook single-move formula
    * ΔQ = (k_{v,b} − k_{v,a})/m − k_v(D_b − D_a + k_v)/(2m²),
    * which AlgoSpec pins against brute full-Q recomputation of
    * mutated assignments, so a green emptiness check is not
    * self-referential. Used as `g29_louvain`'s violation oracle.
    */
  def modularityMoveViolations(edges: DataFrame, comm: DataFrame,
      eps: Double = 1e-9): DataFrame = {
    val e = louvainEdges(edges)
    val m = e.agg(sum("w")).head().getDouble(0)
    require(m > 0, "modularity needs at least one edge")
    val c = graft.TransientCache.persist(comm.select(col("id"), col("comm")))
    val deg = louvainDegrees(e)
    val dtot = deg.join(c, Seq("id")).groupBy("comm").agg(sum("kv").as("dtot"))
    val nonself = e.filter(col("src") =!= col("dst"))
    val ee = nonself.select(col("src").as("id"), col("dst").as("nbr"), col("w"))
      .unionByName(nonself.select(col("dst").as("id"),
        col("src").as("nbr"), col("w")))
    val kvc = ee.join(c.select(col("id").as("nbr"), col("comm").as("c")),
        Seq("nbr"))
      .groupBy("id", "c").agg(sum("w").as("kvc"))
      .join(c, Seq("id"))
    val kva = kvc.filter(col("c") === col("comm"))
      .select(col("id"), col("kvc").as("kva"))
    kvc.filter(col("c") =!= col("comm"))
      .join(kva, Seq("id"), "left").na.fill(0.0, Seq("kva"))
      .join(dtot.select(col("comm").as("c"), col("dtot").as("db")), Seq("c"))
      .join(dtot, Seq("comm"))
      .join(deg, Seq("id"))
      .select(col("id"), col("comm").as("cur_comm"), col("c").as("to_comm"),
        ((col("kvc") - col("kva")) / m -
          col("kv") * (col("db") - col("dtot") + col("kv")) /
            (2 * m * m)).as("gain"))
      .filter(col("gain") > eps)
  }

  /** Effective diameter at quantile `q` (0.9 by convention) from a
    * [[neighborhoodFunction]] curve: the interpolated hop count at
    * which N reaches q of its final value — `(h-1) + (target -
    * N(h-1)) / (N(h) - N(h-1))` for the first h with N(h) ≥ target,
    * the standard HyperANF/hop-plot convention (interpolation makes
    * the statistic move continuously as the graph evolves instead of
    * jumping integer steps). Plain driver-side arithmetic over the
    * maxHops+1 curve points.
    */
  def effectiveDiameter(nf: Seq[(Int, Long)], q: Double = 0.9): Double = {
    require(nf.nonEmpty && q > 0 && q <= 1,
      s"need a non-empty curve and q in (0, 1], got ${nf.size} points, q=$q")
    val sorted = nf.sortBy(_._1)
    val target = q * sorted.last._2
    val i = sorted.indexWhere(_._2 >= target)
    if (i <= 0) 0.0
    else {
      val (h0, n0) = sorted(i - 1)
      val (h1, n1) = sorted(i)
      // n0 < target ≤ n1 by choice of i, so the denominator is > 0
      h0 + (h1 - h0) * (target - n0) / (n1 - n0).toDouble
    }
  }
}
