package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import graft.operators.RelationalQueries
import graft.graph.GraphStore
import graft.views.SqlViews

/** Plan-quality assertions — the 100 TB story depends on these
  * staying true: filters/projections reach the parquet scan, small
  * dims broadcast, top-k avoids global sorts, hot paths stay in
  * whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = RelationalQueries.all(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("predicate scan pushes filters and prunes columns at the source") {
    val plan = planOf("s5_predicate_scan")
    assert(plan.contains("PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,30)")
      || plan.contains("PushedFilters: [IsNotNull"), plan)
    // projection pruned to the 4 selected columns
    assert(plan.contains("ReadSchema") && !plan.contains("p_retailprice"), plan)
  }

  test("span dedup scan prunes documents to (doc_id, text); grams persist once") {
    val df = graft.SparkEntry.queries("dedup_span_exact")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the documents scan must not drag lang/source/n_chars through
    // the gram explode
    assert(plan.contains("ReadSchema") && !plan.contains("n_chars"), plan)
    // the positional gram frame is computed once and reused by the
    // dup-gram aggregate AND the hits join (InMemoryRelation present)
    assert(plan.contains("InMemoryRelation"), plan)
    graft.TransientCache.releaseAll()
  }

  test("join with tiny dimension broadcasts (no shuffle of nation)") {
    val plan = planOf("j1_join_agg")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = planOf("w1_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("aggregation runs partial+final (map-side combine)") {
    // string check: AdaptiveSparkPlanExec hides the tree from
    // SparkPlan.collect until execution
    val plan = planOf("a1_agg")
    assert(plan.contains("partial_count") && plan.contains("partial_sum"), plan)
  }

  test("relational pack stays in whole-stage codegen") {
    val df = RelationalQueries.all("a1_agg")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes are whole-stage-codegen stage markers
    assert(plan.contains("*(1)"), plan)
  }

  test("point lookup pushes the key filter into the scan") {
    val plan = planOf("s3_point_lookup")
    assert(plan.contains("EqualTo(c_custkey,42)"), plan)
  }

  test("sql view path: whitelist enforced, full SQL supported") {
    val store = GraphStore.fromTpch(spark, sf)
    SqlViews.registerGraph(store)
    val ok = SqlViews.runSqlView(spark,
      "SELECT label, COUNT(*) AS n FROM vertices GROUP BY label")
    assert(ok.count() == 6) // 6 vertex labels in the TPC-H projection
    val err = intercept[IllegalArgumentException] {
      SqlViews.runSqlView(spark, "SELECT * FROM lineitem")
    }
    assert(err.getMessage.contains("lineitem"))
  }

  test("bucketed tables: id/src-keyed joins are exchange-free and sort-free") {
    val store = GraphStore.fromTpch(spark, sf)
    val dir = tempDir("graft_bkt").toString
    store.saveBucketed("bkt", 4, dir)
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // vertices(id) ⋈ edges(src): both sides bucketed+sorted on the
      // join key with equal bucket counts → merge join straight off
      // the files: no Exchange, no Sort
      val v = spark.table("bkt_vertices")
      val e = spark.table("bkt_edges")
      val joined = v.join(e, v("id") === e("src"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(400))
      assert(!plan.contains("Exchange"), plan.take(1200))
      assert(joined.count() > 0)
      // edges self-join on src (common-neighbor shape): same property
      val e2 = e.select(col("src").as("src2"), col("dst").as("dst2"))
      val self = e.join(e2, col("src") === col("src2"))
      assert(!self.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_vertices")
      spark.sql("DROP TABLE IF EXISTS bkt_edges")
    }
  }

  test("vocab top-k is TakeOrdered over the aggregate, not a global window") {
    val df = graft.operators.PipelineQueries.all("text_top_ngrams")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("stratified sample filter evaluates scan-side (no prior shuffle)") {
    val df = graft.operators.PipelineQueries.all("pipe_sample_mix")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // one Sort for the ORDER BY; the keep-predicate itself runs
    // before any Exchange introduced by aggregation/join — there is
    // no aggregation/join at all in this plan
    assert(!plan.contains("Join"), plan.take(800))
  }

  test("dedup pack plan quality: hash join honored, no cartesian joins") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val nj = graft.functions.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 2, threshold = 0.3)
    val njPlan = nj.queryExecution.executedPlan.toString
    assert(njPlan.contains("ShuffledHashJoin"), njPlan.take(600))
    assert(!njPlan.contains("CartesianProduct"))
    val mh = graft.functions.Dedup.minHashDedupPairsExact(docs, "text", "doc_id")
    val mhPlan = mh.queryExecution.executedPlan.toString
    assert(!mhPlan.contains("CartesianProduct"), mhPlan.take(600))
    // the simhash prefilter is an intentional broadcast nested loop
    // over 16-byte rows — broadcast, never a shuffled cartesian
    val sh = graft.functions.Dedup.simHashDedupPairsExact(docs, "text", "doc_id")
    val shPlan = sh.queryExecution.executedPlan.toString
    assert(shPlan.contains("BroadcastNestedLoopJoin"), shPlan.take(600))
    assert(!shPlan.contains("CartesianProduct"))
  }

  test("partitioned corpus write: per-slice reads prune at the directory") {
    val dir = tempDir("graft_part").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    graft.sources.Sinks.writePartitioned(docs, dir, Seq("lang"))
    val back = graft.sources.Sinks.readPartitioned(spark, dir)
    val en = back.filter(col("lang") === "en")
    val plan = en.queryExecution.executedPlan.toString
    // the lang filter must be a PartitionFilter (directory prune),
    // never a post-scan data filter
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("lang"), plan.take(1000))
    assert(en.count() ===
      docs.filter(col("lang") === "en").count())
    // round-trip preserves content
    assert(back.count() === docs.count())
  }

  test("embedding dedup LSH branch plan: bucket equi-join, no cartesian") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val lsh = graft.functions.Similarity.embeddingDedupPairs(emb, 0.4,
      exact = Some(false), tables = 8, bits = 6)
    val plan = lsh.queryExecution.executedPlan.toString
    // candidates come from an equi-join on (table, bucket) — never a
    // cartesian or a broadcast nested loop over the corpus
    assert(!plan.contains("CartesianProduct"), plan.take(600))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
    // signatures are the relational HashAggregate form, not
    // interpreted array lambdas
    assert(plan.contains("HashAggregate"), plan.take(600))
  }

  test("ivf index at rest: probe scan prunes to the probed cells") {
    val dir = tempDir("graft_ivf").toString
    val emb = graft.sources.Tables.embeddings(spark, sf)
    graft.functions.Similarity.writeIvfIndex(emb, dir, nlist = 8, iters = 2)
    val queries = emb.filter(col("vec_id") < 3)
    val top = graft.functions.Similarity.ivfTopKFromIndex(
      spark, dir, queries, 5, nprobe = 2)
    val plan = top.queryExecution.executedPlan.toString
    // the probed-cell filter must prune the corpus scan at the
    // DIRECTORY level (PartitionFilters), not post-scan
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toList
    assert(pf.exists(_.contains("cid")), plan.take(1500))
    // value parity with the in-memory path — centroids are
    // deterministic, so the persisted index answers identically
    val mem = graft.functions.Similarity.ivfTopK(
      emb, queries, 5, nlist = 8, nprobe = 2, iters = 2)
    assert(top.collect().toSet == mem.collect().toSet)
  }

  test("ivf index append: only the appended cells' partitions gain files") {
    val dir = tempDir("graft_ivf_app").toString
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    graft.functions.Similarity.writeIvfIndex(base, dir, nlist = 8, iters = 2)
    def filesByCell(): Map[String, Set[String]] = {
      val corpus = new java.io.File(s"$dir/corpus")
      corpus.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cid="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = filesByCell()
    graft.functions.Similarity.appendToIvfIndex(batch, dir)
    val after = filesByCell()
    // which cells the batch landed in, read back from the index itself
    val indexed = spark.read.parquet(s"$dir/corpus")
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    val touched = indexed.filter(col("vec_id").isin(batchIds.toSeq: _*))
      .select("cid").distinct().collect().map(r => s"cid=${r.get(0)}").toSet
    assert(touched.nonEmpty)
    // untouched cell directories keep their EXACT file lists — the
    // append is incremental at the directory level, never a rewrite
    (before.keySet -- touched).foreach { cell =>
      assert(after(cell) == before(cell), s"$cell was rewritten")
    }
    // touched cells only GAIN files (old files intact)
    touched.foreach { cell =>
      assert(before.getOrElse(cell, Set.empty).subsetOf(after(cell)), cell)
    }
    // the appended index serves the union: every vector is queryable
    assert(indexed.count() === emb.count())
    // appended rows were assigned against the FROZEN model: their
    // cids match a fresh assignment under the persisted centroids
    val top = graft.functions.Similarity.ivfTopKFromIndex(
      spark, dir, emb.filter(col("vec_id") < 3), 5, nprobe = 8)
    val full = graft.functions.Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") < 3), 5)
    // probing ALL 8 cells makes the index answer exactly the
    // brute-force top-k over old + new — proves nothing was dropped
    assert(top.collect().toSet == full.collect().toSet)
  }

  // deterministic clustered vectors for the IVF lifecycle specs:
  // fixed-seed LCG, cluster = center + jitter per dim
  private def clusteredVecs(idFrom: Long, n: Int, center: Array[Double],
      jitter: Double, seed0: Long): Seq[(Long, Array[Float])] = {
    var seed = seed0
    def next(): Double = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 40) % 2000).toDouble / 1000.0 - 1.0
    }
    (idFrom until idFrom + n).map(i =>
      (i, center.map(c => (c + jitter * next()).toFloat)))
  }
  private val ivfE1 = Array(1.0, 0, 0, 0, 0, 0, 0, 0)
  private val ivfE2 = Array(0.0, 1, 0, 0, 0, 0, 0, 0)
  private val ivfE3 = Array(0.0, 0, 1, 0, 0, 0, 0, 0)

  test("ivf refresh policy: drift fires, recall decays frozen and recovers on retrain") {
    import spark.implicits._
    val S = graft.functions.Similarity
    // train on two clusters (e1 × 250, e2 × 150); drift to e3 —
    // orthogonal to everything the model saw
    val clusterA = clusteredVecs(1L, 250, ivfE1, 0.15, 7L)
    val clusterB = clusteredVecs(251L, 150, ivfE2, 0.15, 11L)
    val inDist = clusteredVecs(401L, 50, ivfE1, 0.15, 13L)
    val drifted = clusteredVecs(501L, 200, ivfE3, 0.15, 17L)
    def df(rows: Seq[(Long, Array[Float])]) = rows.toDF("vec_id", "embedding")
    val dir = tempDir("graft_ivf_refresh").toString
    S.writeIvfIndex(df(clusterA ++ clusterB), dir, nlist = 3, iters = 4)

    // footer cell counts are exact and jobless: they sum to the corpus
    val counts = S.ivfCellCounts(spark, dir)
    assert(counts.values.sum == 400L, counts)

    // an in-distribution batch does NOT trigger (fit ≈ train fit)
    val stIn = S.ivfStaleness(spark, dir, Some(df(inDist)))
    assert(!stIn.shouldRetrain, stIn)
    assert(stIn.batchMeanAssignCos.get > stIn.trainMeanAssignCos - 0.05, stIn)

    // the drifted batch fires BEFORE it is appended — assignment
    // quality collapses (measured 0.056 vs 0.974 train fit)
    val stDrift = S.ivfStaleness(spark, dir, Some(df(drifted)))
    assert(stDrift.drifted && stDrift.shouldRetrain, stDrift)
    assert(stDrift.batchMeanAssignCos.get < 0.5, stDrift)

    // append anyway (the frozen-model contract), measure the decay:
    // drifted neighbors scatter across cells drawn for old data
    S.appendToIvfIndex(df(drifted), dir)
    assert(S.ivfCellCounts(spark, dir).values.sum == 600L)
    // growth signal, exercised via its threshold: 600 > 1.4 × 400
    val stGrown = S.ivfStaleness(spark, dir, growthFactor = 1.4)
    assert(stGrown.grown && stGrown.shouldRetrain, stGrown)
    assert(!S.ivfStaleness(spark, dir).shouldRetrain) // default 2.0: not yet

    val queries = df(drifted.take(20))
    val full = df(clusterA ++ clusterB ++ drifted)
    val truth = S.bruteForceTopK(full, queries, 10)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(): Double = {
      val got = S.ivfTopKFromIndex(spark, dir, queries, 10, nprobe = 1)
        .select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val stale = recall() // measured 0.72
    assert(stale < 0.9, s"stale recall $stale")

    // retrain: fresh k-means gives the e3 cluster its own cell;
    // the same nprobe=1 probe now sees every drifted neighbor.
    // nlist deliberately omitted — the default reuses the recorded
    // train-time nlist (3), never silently reshaping the model
    S.retrainIvfIndex(spark, dir, iters = 4)
    val recovered = recall() // measured 1.0
    assert(recovered > 0.95, s"recovered recall $recovered")
    assert(recovered > stale)
    // the fit record was refreshed with the retrain
    val stAfter = S.ivfStaleness(spark, dir)
    assert(stAfter.trainedRows == 600L && !stAfter.shouldRetrain, stAfter)
  }

  test("ivf refresh policy: imbalance signal fires independently of growth/drift") {
    import spark.implicits._
    val S = graft.functions.Similarity
    val clusterA = clusteredVecs(1L, 250, ivfE1, 0.15, 7L)
    val clusterB = clusteredVecs(251L, 150, ivfE2, 0.15, 11L)
    def df(rows: Seq[(Long, Array[Float])]) = rows.toDF("vec_id", "embedding")
    val dir = tempDir("graft_ivf_imb").toString
    S.writeIvfIndex(df(clusterA ++ clusterB), dir, nlist = 8, iters = 4)
    // a tight 1.5×-corpus batch at the e1 center is IN distribution
    // (assign cos ≈ train fit → drift silent) but concentrates into
    // the few cells covering that center
    val concentrated = clusteredVecs(2001L, 600, ivfE1, 0.01, 23L)
    assert(!S.ivfStaleness(spark, dir, Some(df(concentrated))).drifted)
    S.appendToIvfIndex(df(concentrated), dir)
    // measured max cell share 0.301 vs fair 1/8 = 0.125: the
    // imbalance threshold isolates the signal (growth bound lifted)
    val st = S.ivfStaleness(spark, dir, growthFactor = 10.0,
      imbalanceFactor = 2.0)
    assert(st.imbalanced && !st.grown && !st.drifted, st)
    assert(st.shouldRetrain)
    assert(st.maxCellShare > 2.0 / 8 && st.maxCellShare < 0.5, st)
  }

  test("ivf probe driver collect stays model-bounded for a 20k-query batch") {
    import spark.implicits._
    val S = graft.functions.Similarity
    val clusterA = clusteredVecs(1L, 250, ivfE1, 0.15, 7L)
    val clusterB = clusteredVecs(251L, 150, ivfE2, 0.15, 11L)
    def df(rows: Seq[(Long, Array[Float])]) = rows.toDF("vec_id", "embedding")
    val dir = tempDir("graft_ivf_big").toString
    S.writeIvfIndex(df(clusterA ++ clusterB), dir, nlist = 8, iters = 4)
    // 20k queries: the per-query probe pairs (20k × nprobe) live in
    // the distributed probes frame; the only driver-side list is
    // distinct cids, which cannot exceed nlist no matter the batch
    val big = df(clusteredVecs(100001L, 10000, ivfE1, 0.2, 29L) ++
      clusteredVecs(200001L, 10000, ivfE2, 0.2, 31L))
    val top = S.ivfTopKFromIndex(spark, dir, big, 3, nprobe = 2)
    val plan = top.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*cid[^\\]]*\\]".r.findFirstIn(plan)
    assert(pf.isDefined, plan.take(1500))
    // the IN-list literal count in the partition filter ≤ nlist = 8
    val inList = "IN \\(([^)]*)\\)".r.findFirstMatchIn(pf.get)
    assert(inList.isDefined, pf.get)
    assert(inList.get.group(1).count(_ == ',') + 1 <= 8, pf.get)
    val rows = top.groupBy("query_id").count()
      .agg(max("count"), count(lit(1))).head()
    assert(rows.getLong(0) <= 3L) // k respected per query
    assert(rows.getLong(1) == 20000L) // every query answered
  }

  test("curation pack plan quality: rank windows group-limit, no cartesians") {
    import graft.operators.CurationQueries
    // WindowGroupLimit pushes the rank<=k filter below the sort —
    // per-partition heaps, never a full sort-then-filter per stratum
    val topk = CurationQueries.all("pipe_domain_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(topk.contains("WindowGroupLimit"), topk)
    val tfidf = CurationQueries.all("tfidf_top_terms")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(tfidf.contains("WindowGroupLimit"), tfidf)
    // incremental dedup joins new-vs-corpus on (band,bucket) —
    // an equi-join, never a cartesian
    val incr = CurationQueries.all("dedup_increment")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!incr.contains("CartesianProduct"), incr)
    graft.TransientCache.releaseAll()
  }

  test("zorder layout writes range-partitioned, sorted-within-partition") {
    import graft.functions.Layout
    val li = graft.sources.Tables.lineitem(spark, sf)
    val key = Layout.zorderKey(Seq(
      pmod(col("l_orderkey"), lit(256)), pmod(col("l_suppkey"), lit(256))), 8)
    val plan = Layout.zorderLayout(li, key, 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning") || plan.contains("RangePartitioning"),
      plan)
    assert(plan.contains("Sort "), plan)
  }

  test("small-frontier BFS rounds execute broadcast joins, never SMJ") {
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    org.apache.spark.graft.SparkTestAccess.flushListenerBus(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L)).toDF("src", "dst")
      graft.algorithms.Algorithms
        .multiSourceBfs(e, Seq(1L).toDF("id"), 3, undirected = true).count()
      org.apache.spark.graft.SparkTestAccess.flushListenerBus(spark.sparkContext)
      val all = plans.toArray.mkString("\n")
      // the hint must have taken effect in at least one executed round
      assert(all.contains("BroadcastHashJoin"), all.take(800))
      // and no round may have fallen back to shuffling the edge set
      assert(!all.contains("SortMergeJoin"),
        "small-frontier BFS executed a sort-merge join")
    } finally spark.listenerManager.unregister(l)
  }

  test("graph store round-trips through parquet") {
    val dir = tempDir("graft_store").toString
    val store = GraphStore.fromTuples(spark,
      Seq((1L, "A", Seq("x" -> 1)), (2L, "B", Nil)),
      Seq((1L, 2L, "e", Nil)))
    store.save(dir)
    val loaded = GraphStore.load(spark, dir)
    assert(loaded.vertices.count() == 2 && loaded.edges.count() == 1)
    import graft.model.PropValue
    val x = loaded.vertices.filter(col("id") === 1L)
      .select(PropValue.asLong(col("props")("x"))).head.getLong(0)
    assert(x == 1L)
  }
}
