package graft

import org.apache.spark.sql.functions._
import graft.algorithms.Algorithms

/** Goldens from the reference's algorithm tests (FIXTURES §2:
  * basic.rs:397-472) on the A→B→C, A→C micro-graph.
  */
class AlgoSpec extends SparkSpec {
  import spark.implicits._

  lazy val vertices = Seq(1L, 2L, 3L).toDF("id")
  lazy val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")

  /** A broadcast threshold below one row's width: the broadcast
    * license admits no row, so every count-gated loop stays
    * distributed (sort-merge joins, no driver finish).
    */
  private val zeroLicense = "spark.sql.autoBroadcastJoinThreshold" -> "1"

  test("pagerank: all scores > 0, sum ≈ contributes correctly, sink highest") {
    val pr = Algorithms.pageRank(vertices, edges, 0.85, 20).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.values.forall(_ > 0))
    // vertex 3 receives from both 1 and 2 → highest score
    assert(pr(3L) > pr(1L) && pr(3L) > pr(2L))
    // dangling vertex 3 leaks mass, so sum ≤ 1 but ≥ (1-d)
    assert(pr.values.sum <= 1.0 + 1e-9 && pr.values.sum > 0.15)
  }

  test("pagerank matches hand-computed 2-iteration values") {
    // n=3, d=0.85, init 1/3 each.
    // iter1: s1=0.05; s2=0.05+0.85*(1/3/2)=0.19166..; s3=0.05+0.85*(1/3/2+1/3)=0.475
    val pr = Algorithms.pageRank(vertices, edges, 0.85, 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr(1L) - 0.05) < 1e-9)
    assert(math.abs(pr(2L) - (0.05 + 0.85 / 6)) < 1e-9)
    assert(math.abs(pr(3L) - (0.05 + 0.85 * (1.0 / 6 + 1.0 / 3))) < 1e-9)
  }

  test("connected components: single component rooted at 1") {
    val cc = Algorithms.connectedComponents(vertices, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet == Set(1L))
    // two components when 3 is isolated
    val cc2 = Algorithms.connectedComponents(
      vertices, Seq((1L, 2L)).toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc2 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("unweighted sssp 1→3: distance 1.0 via direct edge (basic.rs:464-472)") {
    val res = Algorithms.sssp(vertices, edges, 1L)
    val d = res.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d == Map(1L -> 0.0, 2L -> 1.0, 3L -> 1.0))
    assert(Algorithms.reconstructPath(res, 1L, 3L) == Seq(1L, 3L))
  }

  test("weighted sssp takes the cheaper 2-hop path") {
    val wEdges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 5.0))
      .toDF("src", "dst", "weight")
    val res = Algorithms.sssp(vertices, wEdges, 1L)
    val d = res.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d(3L) == 2.0)
    assert(Algorithms.reconstructPath(res, 1L, 3L) == Seq(1L, 2L, 3L))
  }

  test("directed sssp: no path 3→1 (storage lib.rs:1145-1173)") {
    val res = Algorithms.sssp(vertices, edges, 3L)
    assert(Algorithms.reconstructPath(res, 3L, 1L).isEmpty)
  }

  test("targeted sssp halts early with the same distance and path") {
    // weighted diamond + a tail beyond the target: the tail must not
    // need settling for the target's distance/path to be final
    val vs = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val es = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 5.0),
      (3L, 4L, 1.0), (4L, 5L, 1.0)).toDF("src", "dst", "weight")
    val res = Algorithms.sssp(vs, es, 1L, target = Some(3L))
    val d = res.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d(3L) == 2.0)
    assert(Algorithms.reconstructPath(res, 1L, 3L) == Seq(1L, 2L, 3L))
    // unreachable target: empty settled path
    val back = Algorithms.sssp(vs, es, 3L, target = Some(1L))
    assert(Algorithms.reconstructPath(back, 3L, 1L).isEmpty)
  }

  test("incremental pagerank: warm start converges to the cold answer fast") {
    val vs = Seq(1L, 2L, 3L, 4L).toDF("id")
    val es0 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val prior = Algorithms.pageRank(vs, es0, 0.85, 30)
    // delta: one new edge 4→1 closes a cycle
    val es1 = es0.unionByName(Seq((4L, 1L)).toDF("src", "dst"))
    // 120 cold iterations: 0.85^120 ≈ 3e-9 — the comparison target
    // must itself be at the fixpoint for a 1e-6 assertion
    val cold = Algorithms.pageRank(vs, es1, 0.85, 120).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val warm = Algorithms.pageRankIncremental(vs, es1, prior,
      damping = 0.85, tol = 1e-10, maxIter = 120).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    cold.foreach { case (id, s) => assert(math.abs(warm(id) - s) < 1e-5, s"id $id") }
    // warm start from the EXACT answer needs one confirming pass only:
    // tolerance is met immediately, far under maxIter
    val confirm = Algorithms.pageRankIncremental(vs, es1,
      Seq.empty[(Long, Double)].toDF("id", "score").unionByName(
        cold.toSeq.toDF("id", "score")),
      damping = 0.85, tol = 1e-4, maxIter = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    cold.foreach { case (id, s) => assert(math.abs(confirm(id) - s) < 1e-3) }
  }

  test("k-core: k=2 keeps the triangle, drops a pendant") {
    val vs = Seq(1L, 2L, 3L, 4L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val core = Algorithms.kCore(es, 2).collect().map(_.getLong(0)).toSet
    assert(core == Set(1L, 2L, 3L))
  }

  test("triangles: exactly one in the micro-graph") {
    val tri = Algorithms.triangles(edges).collect()
    assert(tri.length == 1)
    assert(tri.head.toSeq == Seq(1L, 2L, 3L))
  }

  test("reachability: forward closure from 1 = {1,2,3}; from 3 = {3}") {
    val r1 = Algorithms.reachability(edges, Seq(1L)).collect().map(_.getLong(0)).toSet
    assert(r1 == Set(1L, 2L, 3L))
    val r3 = Algorithms.reachability(edges, Seq(3L)).collect().map(_.getLong(0)).toSet
    assert(r3 == Set(3L))
  }

  test("scc: cycle collapses, dag stays apart") {
    val vs = Seq(1L, 2L, 3L).toDF("id")
    val cyc = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    val scc = Algorithms.stronglyConnectedComponents(vs, cyc, 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc(1L) == scc(2L) && scc(3L) != scc(1L))
  }

  test("scc: the driver-local finish equals the distributed loop, as " +
    "bags, on duplicates, self-loops, stray ids and empty inputs") {
    def bag(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Int] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val cases = Seq(
      // {1,2} and {3,4}, each with a duplicated root and non-root id
      "duplicates" -> (Seq(1L, 2L, 3L, 3L, 4L, 2L),
        Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 3L),
          (3L, 4L))),
      "self-loops" -> (Seq(1L, 2L, 3L, 4L),
        Seq((1L, 1L), (1L, 2L), (2L, 1L), (3L, 3L), (3L, 4L))),
      // 9, 7 and 8 are not vertices: the cycle through 9 is no cycle
      "stray ids" -> (Seq(1L, 2L, 3L),
        Seq((1L, 2L), (2L, 9L), (9L, 1L), (2L, 3L), (3L, 2L), (7L, 8L))),
      "isolated" -> (Seq(1L, 2L, 3L, 4L, 5L), Seq((1L, 2L), (2L, 1L))),
      "no edges" -> (Seq(1L, 2L, 3L), Seq.empty[(Long, Long)]),
      "no vertices" -> (Seq.empty[Long], Seq((1L, 2L), (2L, 1L))))
    for ((name, (vs, es)) <- cases) {
      def scc() = bag(Algorithms.stronglyConnectedComponents(
        vs.toDF("id"), es.toDF("src", "dst")))
      val local = scc()
      assert(local.values.sum == vs.size, name)
      assert(local == withConf(zeroLicense)(scc()), name)
    }
  }

  test("sccLocalSolve: a 1e5-vertex path and ring need no deep JVM stack") {
    val n = 100000
    val ids = Array.tabulate(n)(i => (i + 1).toLong)
    val path = Array.tabulate(n - 1)(i => (ids(i), ids(i + 1)))
    // a DAG path: every vertex is its own component
    assert(Algorithms.sccLocalSolve(ids, path).sameElements(ids))
    // closing the path into a ring makes one component, labeled 1
    val ring = path :+ ((ids(n - 1), ids(0)))
    assert(Algorithms.sccLocalSolve(ids, ring).forall(_ == 1L))
  }

  test("betweenness: path, star, triangle hand values (Brandes)") {
    def btw(edges: Seq[(Long, Long)], ids: Seq[Long]): Map[Long, Double] = {
      val e = edges.toDF("src", "dst")
      val v = ids.toDF("id")
      val out = Algorithms.betweennessCentrality(e, v, maxHops = 6,
        undirected = true)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      ids.map(i => i -> out.getOrElse(i, 0.0)).toMap
    }
    // path 1-2-3: the middle vertex carries the single (1,3) pair
    assert(btw(Seq((1L, 2L), (2L, 3L)), Seq(1L, 2L, 3L)) ==
      Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.0))
    // star: center carries every leaf pair = C(3,2) = 3
    assert(btw(Seq((0L, 1L), (0L, 2L), (0L, 3L)), Seq(0L, 1L, 2L, 3L)) ==
      Map(0L -> 3.0, 1L -> 0.0, 2L -> 0.0, 3L -> 0.0))
    // triangle: every pair is adjacent, nobody is between
    assert(btw(Seq((1L, 2L), (2L, 3L), (1L, 3L)), Seq(1L, 2L, 3L)) ==
      Map(1L -> 0.0, 2L -> 0.0, 3L -> 0.0))
    // square 1-2-3-4-1: two shortest paths between opposite corners,
    // each midpoint carries half of one pair → 0.5 each
    assert(btw(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)),
      Seq(1L, 2L, 3L, 4L)) ==
      Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.5, 4L -> 0.5))
  }

  test("betweenness: backward sweep frees level-frame storage as it consumes it") {
    // deep path graph → many level frames; the sweep must release
    // each level's checkpoint blocks once its δ and BC contribution
    // are materialized, leaving only the result's own frame persisted
    // (the pre-rotation code held hops × frontier blocks to the end)
    val n = 12L
    val es = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val vs = (1L to n).toDF("id")
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Algorithms.betweennessCentrality(es, vs, maxHops = 12,
      undirected = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1, // the returned frame's own blocks
      s"betweenness leaked ${after - before} persisted frames")
    // values unchanged by the rotation: path-graph betweenness is
    // (i-1)(n-i) for vertex i
    (1L to n).foreach { i =>
      assert(out.getOrElse(i, 0.0) == ((i - 1) * (n - i)).toDouble,
        s"v=$i")
    }
  }

  test("weighted pagerank: uniform weights reduce to pagerank; weights steer mass") {
    // uniform weights ⇒ w/Σw = 1/outdeg: must equal unweighted
    // PageRank on every vertex
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val vs = Seq(1L, 2L, 3L).toDF("id")
    val plain = Algorithms.pageRank(vs, es)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val uni = Algorithms.pageRankWeighted(vs,
        es.withColumn("w", lit(1)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    plain.foreach { case (id, s) =>
      assert(math.abs(uni(id) - s) < 1e-9, s"id=$id $s vs ${uni(id)}")
    }
    // asymmetric weights steer the mass: 1 sends 3/4 of its rank to
    // 2, 1/4 to 3 — exact one-hop check on a source-only graph
    val wes = Seq((1L, 2L, 3), (1L, 3L, 1)).toDF("src", "dst", "w")
    val w = Algorithms.pageRankWeighted(vs, wes, numIter = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val base = 0.15 / 3
    assert(math.abs(w(1L) - base) < 1e-9)
    assert(math.abs(w(2L) - (base + 0.85 * (1.0 / 3) * 0.75)) < 1e-9)
    assert(math.abs(w(3L) - (base + 0.85 * (1.0 / 3) * 0.25)) < 1e-9)
  }

  test("harmonic centrality: path graph values; hop bound truncates") {
    // path 1-2-3 undirected: H(1)=1+1/2, H(2)=2, H(3)=1+1/2
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val v = Seq(1L, 2L, 3L).toDF("id")
    val h2 = Algorithms.harmonicCentrality(e, v, maxHops = 2,
      undirected = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h2 == Map(1L -> 1.5, 2L -> 2.0, 3L -> 1.5))
    // bound 1 truncates the 2-hop term
    val h1 = Algorithms.harmonicCentrality(e, v, maxHops = 1,
      undirected = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h1 == Map(1L -> 1.0, 2L -> 2.0, 3L -> 1.0))
    // an isolated vertex yields no row (empty sum)
    val vIso = Seq(1L, 2L, 3L, 9L).toDF("id")
    val hIso = Algorithms.harmonicCentrality(e, vIso, maxHops = 2,
      undirected = true)
    assert(!hIso.collect().map(_.getLong(0)).contains(9L))
  }

  test("clustering coefficient: triangle, path, star-plus-edge values") {
    def lcc(edges: Seq[(Long, Long)]): Map[Long, (Long, Double)] =
      Algorithms.localClusteringCoefficient(edges.toDF("src", "dst"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // triangle: every neighbor pair adjacent → 1.0 everywhere
    assert(lcc(Seq((1L, 2L), (2L, 3L), (1L, 3L))) ==
      Map(1L -> ((2L, 1.0)), 2L -> ((2L, 1.0)), 3L -> ((2L, 1.0))))
    // path: no triangles; endpoints deg-1 short to 0.0
    assert(lcc(Seq((1L, 2L), (2L, 3L))) ==
      Map(1L -> ((1L, 0.0)), 2L -> ((2L, 0.0)), 3L -> ((1L, 0.0))))
    // star 0-{1,2,3} plus edge 1-2: center has 1 of 3 pairs closed
    val s = lcc(Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L)))
    assert(s(0L)._1 == 3L && math.abs(s(0L)._2 - 1.0 / 3) < 1e-12)
    assert(s(1L) == ((2L, 1.0)) && s(2L) == ((2L, 1.0)) &&
      s(3L) == ((1L, 0.0)))
  }

  test("jaccard similarity: square corners, disjoint pairs absent, cap") {
    // square 1-2-3-4-1: opposite corners share BOTH neighbors (J=1);
    // adjacent corners share none (absent)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val out = Algorithms.jaccardSimilarity(e)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map((1L, 3L) -> ((2L, 1.0)), (2L, 4L) -> ((2L, 1.0))))
    // partial overlap: 1-2,1-3,4-2,4-3,4-5 → J(1,4)=2/3
    val e2 = Seq((1L, 2L), (1L, 3L), (4L, 2L), (4L, 3L), (4L, 5L))
      .toDF("src", "dst")
    val out2 = Algorithms.jaccardSimilarity(e2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(math.abs(out2((1L, 4L)) - 2.0 / 3) < 1e-12)
    // maxDegree drops the crowd hub's pairs: capping at 1 removes all
    val capped = Algorithms.jaccardSimilarity(e2, maxDegree = 1)
    assert(capped.count() == 0L)
  }

  test("ppr: hand-iterated path values; mass conserved; seeds required") {
    // path 1-2-3 undirected, seed {1}: two hand-unrolled iterations
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val v = Seq(1L, 2L, 3L).toDF("id")
    val pr = Algorithms.personalizedPageRank(v, e, Seq(1L),
      numIter = 2, undirected = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr(1L) - 0.51125) < 1e-12)
    assert(math.abs(pr(2L) - 0.1275) < 1e-12)
    assert(math.abs(pr(3L) - 0.36125) < 1e-12)
    // undirected connected graph: no dangling leak, Σ = 1
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    // proximity ordering at 10 iters: seed side outranks the far end
    val pr10 = Algorithms.personalizedPageRank(v, e, Seq(1L),
      undirected = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr10(1L) > pr10(2L) && pr10(2L) > pr10(3L))
    intercept[IllegalArgumentException] {
      Algorithms.personalizedPageRank(v, e, Nil)
    }
  }

  test("katz: hand-unrolled path values; no degree normalization") {
    // path 1-2-3 undirected, α=.5, β=1, 2 iters: x2 = (2, 2.5, 2)
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val v = Seq(1L, 2L, 3L).toDF("id")
    val x = Algorithms.katzCentrality(v, e, alpha = 0.5, beta = 1.0,
      numIter = 2, undirected = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(x(1L) - 2.0) < 1e-12)
    assert(math.abs(x(2L) - 2.5) < 1e-12)
    assert(math.abs(x(3L) - 2.0) < 1e-12)
    // isolated vertex stays at the β floor
    val vIso = Seq(1L, 2L, 3L, 9L).toDF("id")
    val xi = Algorithms.katzCentrality(vIso, e, alpha = 0.5, beta = 1.0,
      numIter = 2, undirected = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(xi(9L) == 1.0)
  }

  test("modularity: barbell hand value; bad split scores lower; empty-edge guard") {
    // two triangles {1,2,3} {4,5,6} bridged by 3-4: m=7, each
    // community has e_c=3, deg_sum=7 → q_c = 3/7 − (7/14)² = 5/28
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val good = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L),
      (6L, 1L)).toDF("id", "community")
    val q = Algorithms.modularity(e, good)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(q(0L)._1 == 3L && q(0L)._2 == 7L)
    assert(math.abs(q(0L)._3 - 5.0 / 28) < 1e-12)
    assert(math.abs(q.values.map(_._3).sum - 5.0 / 14) < 1e-12)
    // a split cutting a triangle scores strictly lower in total
    val bad = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 1L),
      (6L, 1L)).toDF("id", "community")
    val qBad = Algorithms.modularity(e, bad)
      .collect().map(_.getDouble(3)).sum
    assert(qBad < 5.0 / 14)
    intercept[IllegalArgumentException] {
      Algorithms.modularity(e.limit(0), good)
    }
  }

  test("adamic-adar: hand-computed weights; deg-1 and crowd hubs drop") {
    // h1:{a,b} (deg 2), h2:{a,b,c} (deg 3), h3:{a} (deg 1 → no pairs)
    val inc = Seq(("a", "h1"), ("b", "h1"), ("a", "h2"), ("b", "h2"),
      ("c", "h2"), ("a", "h3")).toDF("node", "hub")
    val got = Algorithms.adamicAdar(inc)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    val ln2 = math.log(2.0); val ln3 = math.log(3.0)
    assert(got.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    assert(math.abs(got(("a", "b")) - (1 / ln2 + 1 / ln3)) < 1e-12)
    assert(math.abs(got(("a", "c")) - 1 / ln3) < 1e-12)
    assert(math.abs(got(("b", "c")) - 1 / ln3) < 1e-12)
    // duplicate incidence rows do not double-count (distinct inside)
    val dup = Algorithms.adamicAdar(inc.union(inc))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(math.abs(dup(("a", "b")) - got(("a", "b"))) < 1e-12)
    // the crowd-hub cap drops h2 entirely: only (a,b) via h1 remains
    val capped = Algorithms.adamicAdar(inc, maxHubDegree = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(capped.keySet == Set(("a", "b")))
    assert(math.abs(capped(("a", "b")) - 1 / ln2) < 1e-12)
  }

  test("multi-source BFS: per-pair min hops, matches single-source sssp") {
    // diamond + detour: 1→{2,3}→4, 1→5→6→4
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (5L, 6L), (6L, 4L)).toDF("src", "dst")
    val v = (1L to 6L).toDF("id")
    val got = Algorithms.multiSourceBfs(e, Seq(1L, 5L).toDF("id"), maxHops = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got((1L, 1L)) == 0 && got((1L, 4L)) == 2 && got((1L, 6L)) == 2)
    assert(got((5L, 4L)) == 2 && got((5L, 6L)) == 1)
    assert(!got.contains((5L, 2L))) // 2 not reachable from 5
    // hop bound respected: maxHops 1 keeps only direct successors
    val one = Algorithms.multiSourceBfs(e, Seq(1L).toDF("id"), maxHops = 1)
      .filter(col("hops") > 0).collect().map(_.getLong(1)).toSet
    assert(one == Set(2L, 3L, 5L))
    // single-source case agrees with the Pregel sssp hop counts
    val pregel = Algorithms.sssp(v, e, source = 1L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1).toInt).toMap
    val bfs1 = Algorithms.multiSourceBfs(e, Seq(1L).toDF("id"), maxHops = 10)
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(bfs1 == pregel)
    // undirected: 2 reaches 3 through either 1 or 4
    val und = Algorithms.multiSourceBfs(e, Seq(2L).toDF("id"), maxHops = 3,
      undirected = true).collect()
      .map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(und(3L) == 2)
    // duplicate seeds collapse: one row per (source, vertex) pair
    val dup = Algorithms.multiSourceBfs(e, Seq(1L, 1L, 5L).toDF("id"),
      maxHops = 2).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dup.length == dup.distinct.length)
    assert(dup.count(_ == (1L, 1L)) == 1)
  }

  test("frontier loops: forced SMJ fallback (0-row broadcast license) matches broadcast path") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (5L, 6L), (6L, 4L)).toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    def bfs() = rows(Algorithms.multiSourceBfs(e, Seq(1L, 5L).toDF("id"), 4))
    assert(withConf(zeroLicense)(bfs()) == bfs())
    def und() = rows(Algorithms.multiSourceBfs(e, Seq(2L).toDF("id"), 3,
      undirected = true))
    assert(withConf(zeroLicense)(und()) == und())
    def reach() = Algorithms.reachability(e, Seq(1L)).collect()
      .map(_.getLong(0)).toSet
    val reachB = reach()
    val reachS = withConf(zeroLicense)(reach())
    assert(reachS == reachB && reachB == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // scc: cycle 1↔2 plus dag edge to 3, forced-SMJ == broadcast
    val vs = Seq(1L, 2L, 3L).toDF("id")
    val cyc = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    def sccMap() = Algorithms.stronglyConnectedComponents(vs, cyc, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withConf(zeroLicense)(sccMap()) == sccMap())
    // k-core: triangle + pendant, forced-SMJ == broadcast
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    def core() = Algorithms.kCore(tri, 2).collect().map(_.getLong(0)).toSet
    assert(withConf(zeroLicense)(core()) == core())
  }

  test("servedFromCache: pure renames over a cache qualify, computed plans don't") {
    // LocalRelation qualifies outright (driver-local stays cheap even
    // after the optimizer folds projections/filters into it)
    val base = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(Algorithms.servedFromCache(base))
    // the cached cases: InMemoryRelation is a black box to the
    // optimizer, so the plan shape above it is what the guard sees
    val cached = base.persist()
    try {
      cached.count()
      assert(Algorithms.servedFromCache(cached))
      assert(Algorithms.servedFromCache(
        cached.select(col("src").as("a"), col("dst").as("b"))))
      // computed projection / filter re-execute per scan — must NOT
      // qualify (the loop would pay them every round)
      assert(!Algorithms.servedFromCache(
        cached.select((col("src") + 1).as("src"), col("dst"))))
      assert(!Algorithms.servedFromCache(cached.filter(col("src") > 1)))
    } finally cached.unpersist(blocking = true)
  }

  test("closeness: path graph hand values; WF correction; isolated absent") {
    // path 1-2-3 undirected, n=3: farness(1)=1+2=3, r=2 → C=2/3,
    // WF = (2/2)·(2/3); farness(2)=2, r=2 → C=1, WF=1
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val v = Seq(1L, 2L, 3L).toDF("id")
    val c = Algorithms.closenessCentrality(e, v, maxHops = 3,
      undirected = true).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(c(1L) == ((2L, 2.0 / 3, 2.0 / 3)))
    assert(c(2L) == ((2L, 1.0, 1.0)))
    assert(c(3L) == ((2L, 2.0 / 3, 2.0 / 3)))
    // hop bound 1: endpoints reach only the middle → C=1 but WF
    // scales by r/(n−1) = 1/2 — the component correction at work
    val c1 = Algorithms.closenessCentrality(e, v, maxHops = 1,
      undirected = true).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(c1(1L) == ((1L, 1.0, 0.5)))
    // isolated vertex: no row (empty farness sum)
    val vIso = Seq(1L, 2L, 3L, 9L).toDF("id")
    assert(!Algorithms.closenessCentrality(e, vIso, maxHops = 3,
      undirected = true).collect().map(_.getLong(0)).contains(9L))
  }

  test("hits: bipartite hand values; pure hub/authority split; parity vs plain-Scala") {
    // 1→3, 1→4, 2→3: vertex 1 links to both authorities → top hub;
    // vertex 3 is cited by both hubs → top authority. Sources have
    // authority 0, sinks hub 0 (explicit zeros).
    val v = Seq(1L, 2L, 3L, 4L).toDF("id")
    val e = Seq((1L, 3L), (1L, 4L), (2L, 3L)).toDF("src", "dst")
    val got = Algorithms.hits(v, e, numIter = 8).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got(3L)._1 == 0.0 && got(4L)._1 == 0.0) // sinks: hub 0
    assert(got(1L)._2 == 0.0 && got(2L)._2 == 0.0) // sources: auth 0
    assert(got(1L)._1 > got(2L)._1 && got(3L)._2 > got(4L)._2)
    // plain-Scala reference: same recursion, same end normalization
    val ids = Seq(1L, 2L, 3L, 4L)
    val es = Seq((1L, 3L), (1L, 4L), (2L, 3L))
    var hub = ids.map(_ -> 1.0).toMap
    var auth = ids.map(_ -> 1.0).toMap
    for (_ <- 1 to 8) {
      auth = ids.map(i => i -> es.filter(_._2 == i).map(x => hub(x._1)).sum).toMap
      hub = ids.map(i => i -> es.filter(_._1 == i).map(x => auth(x._2)).sum).toMap
    }
    val hs = hub.values.sum; val as = auth.values.sum
    ids.foreach { i =>
      assert(math.abs(got(i)._1 - hub(i) / hs) < 1e-12)
      assert(math.abs(got(i)._2 - auth(i) / as) < 1e-12)
    }
    // L1 norms: each side sums to 1
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-12)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-12)
  }

  test("random walks: parity vs plain-Scala sampler; sinks stop; determinism") {
    // directed with a sink: 1→2, 1→3, 2→3 (3 is a sink)
    val v = Seq(1L, 2L, 3L).toDF("id")
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val got = Algorithms.randomWalks(v, e, walkLength = 3,
      walksPerVertex = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // plain-Scala reference with the identical mix
    val adj = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L), 3L -> Seq.empty[Long])
    def mix(w: Long, s: Int, u: Long): Long =
      (w % 1000003L) * 1103515245L + s.toLong * 12345L +
        (u % 1000033L) * 2654435761L
    val want = scala.collection.mutable.Set[(Long, Int, Long)]()
    for (id <- Seq(1L, 2L, 3L); t <- 0 until 2) {
      val w = id * 2 + t
      var cur = id
      want += ((w, 0, cur))
      var s = 1
      var alive = true
      while (s <= 3 && alive) {
        val ns = adj(cur)
        if (ns.isEmpty) alive = false
        else {
          cur = ns.sorted.apply((mix(w, s, cur) % ns.size).toInt)
          want += ((w, s, cur))
          s += 1
        }
      }
    }
    assert(got == want.toSet)
    // every emitted transition is a real edge
    val byWalk = got.groupBy(_._1)
    byWalk.values.foreach { rows =>
      rows.toSeq.sortBy(_._2).sliding(2).foreach {
        case Seq(a, b) => assert(adj(a._3).contains(b._3))
        case _ =>
      }
    }
    // pure function: a second run is bit-identical
    val again = Algorithms.randomWalks(v, e, walkLength = 3,
      walksPerVertex = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(again == got)
  }

  test("hyperanf: closed-form path values; exact parity on random graphs (coupon regime)") {
    import spark.implicits._
    // HLL at cardinality ≤ a few hundred sits in the exact coupon
    // regime, so at test sizes the "estimate" must EQUAL the true
    // neighborhood function — these pins exercise the propagation,
    // not the envelope (the driver query gates the envelope at 1000
    // vertices against bulk BFS).
    val vs = (1L to 5L).toSeq.toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    // directed path 1→2→3→4→5: N(h) = Σ_v (min(h, tail below v) + 1)
    assert(Algorithms.neighborhoodFunction(es, vs, maxHops = 4) ==
      Seq((0, 5L), (1, 9L), (2, 12L), (3, 14L), (4, 15L)))
    // undirected: window of radius h around each vertex
    assert(Algorithms.neighborhoodFunction(es, vs, maxHops = 4,
      undirected = true) ==
      Seq((0, 5L), (1, 13L), (2, 19L), (3, 23L), (4, 25L)))
    // random directed graphs vs a plain-Scala BFS reachability count
    for (seed <- Seq(1, 2)) {
      val rnd = new scala.util.Random(seed)
      val vN = 30
      val vsr = (1L to vN.toLong).toSeq
      val esr = Seq.fill(60)(
        (1L + rnd.nextInt(vN), 1L + rnd.nextInt(vN)))
        .filter { case (a, b) => a != b }.distinct
      val adj = esr.groupBy(_._1).map { case (k, v2) => k -> v2.map(_._2) }
      def exact(h: Int): Long = vsr.map { s =>
        var seen = Set(s)
        var frontier = Set(s)
        for (_ <- 1 to h) {
          frontier = frontier.flatMap(x => adj.getOrElse(x, Nil)) -- seen
          seen ++= frontier
        }
        seen.size.toLong
      }.sum
      val nf = Algorithms.neighborhoodFunction(
        esr.toDF("src", "dst"), vsr.toDF("id"), maxHops = 4)
      for ((h, e2) <- nf) assert(e2 == exact(h), s"seed=$seed h=$h")
      // N(h) is monotone by construction (register max never loses)
      assert(nf.map(_._2) == nf.map(_._2).sorted)
    }
    // effective diameter from the undirected path curve
    // (5, 13, 19, 23, 25): target 22.5 falls between h=2 and h=3
    val curve = Seq((0, 5L), (1, 13L), (2, 19L), (3, 23L), (4, 25L))
    assert(math.abs(Algorithms.effectiveDiameter(curve) - 2.875) < 1e-12)
    // q=1 recovers the exact diameter
    assert(Algorithms.effectiveDiameter(curve, q = 1.0) == 4.0)
    // a single-point curve (isolated vertices) is diameter 0
    assert(Algorithms.effectiveDiameter(Seq((0, 7L))) == 0.0)
  }

  test("louvain: two K4s with a bridge recover the cliques; certified; deterministic") {
    // K4 {1..4} + K4 {5..8} + bridge (4,5): m=13, clique partition has
    // e_c=6, D_c=13 each → Q = 2·(6/13 − (13/26)²) = 12/13 − 1/2
    val vs = (1L to 8L).toDF("id")
    val es = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L),
      (4L, 5L))).toDF("src", "dst")
    val comm = Algorithms.louvain(vs, es).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val groups = comm.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(groups == Set(Set(1L, 2L, 3L, 4L), Set(5L, 6L, 7L, 8L)))
    val asg = comm.toSeq.toDF("id", "comm")
    assert(math.abs(Algorithms.weightedModularity(es, asg) -
      (12.0 / 13 - 0.5)) < 1e-12)
    // certified local optimum: no positive-gain neighbor move exists
    assert(Algorithms.modularityMoveViolations(es, asg).isEmpty)
    // pure function of the graph: a second run is identical
    val again = Algorithms.louvain(vs, es).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == comm)
  }

  test("louvain: single-move gain formula matches brute full-Q recomputation") {
    // the independence pin behind the g29 violation oracle: the
    // textbook ΔQ formula must equal Q(moved) − Q(current) EXACTLY,
    // for every candidate move of an arbitrary (non-optimal)
    // assignment — positive and negative gains both
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (4L, 6L), (5L, 6L), (2L, 5L)).toDF("src", "dst")
    val asg = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L), (5L, 30L),
      (6L, 30L)).toDF("id", "comm")
    val q0 = Algorithms.weightedModularity(es, asg)
    val cands = Algorithms.modularityMoveViolations(es, asg, eps = -1e9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(cands.nonEmpty && cands.exists(_._4 > 0) &&
      cands.exists(_._4 < 0))
    for ((id, cur, to, gain) <- cands) {
      val moved = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L),
        (5L, 30L), (6L, 30L)).map { case (v, c) =>
          (v, if (v == id) to else c) }.toDF("id", "comm")
      val brute = Algorithms.weightedModularity(es, moved) - q0
      assert(math.abs(gain - brute) < 1e-12, s"move $id: $cur -> $to")
    }
  }

  test("louvain: violation oracle catches a planted bad partition") {
    val es = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L),
      (4L, 5L))).toDF("src", "dst")
    val bad = Seq((1L, 0L), (2L, 0L), (5L, 0L), (6L, 0L), (3L, 1L),
      (4L, 1L), (7L, 1L), (8L, 1L)).toDF("id", "comm")
    assert(!Algorithms.modularityMoveViolations(es, bad).isEmpty)
  }

  test("louvain: ring of 6 triangles finds the triangles; isolated vertex stays singleton") {
    // known closed form: m=24, triangle partition Q = 6·(3/24 − (8/48)²)
    // = 7/12, which beats merging adjacent triangle pairs (13/24) —
    // multi-level must NOT over-merge here
    val vs = ((0L until 18L) :+ 99L).toDF("id")
    val tri = (0 until 6).flatMap { i =>
      val b = 3L * i
      Seq((b, b + 1), (b, b + 2), (b + 1, b + 2))
    }
    val ring = (0 until 6).map { i =>
      (3L * i + 2, 3L * ((i + 1) % 6)) }
    val es = (tri ++ ring).toDF("src", "dst")
    val comm = Algorithms.louvain(vs, es).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val groups = comm.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(groups == (0 until 6).map { i =>
      Set(3L * i, 3L * i + 1, 3L * i + 2) }.toSet + Set(99L))
    val asg = comm.toSeq.filter(_._1 != 99L).toDF("id", "comm")
    assert(math.abs(Algorithms.weightedModularity(es, asg) - 7.0 / 12)
      < 1e-12)
  }

  test("louvain: count-gated local finisher agrees with all-distributed levels") {
    // the default gate collects condensed levels; a 0-row broadcast
    // license keeps every level distributed — partitions must agree
    val vs = (1L to 8L).toDF("id")
    val es = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L),
      (4L, 5L))).toDF("src", "dst")
    def parts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      .groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(withConf(zeroLicense)(parts(Algorithms.louvain(vs, es))) ==
      parts(Algorithms.louvain(vs, es)))
  }

  test("louvainLocalSolve: sequential solver recovers cliques with min-id labels") {
    val verts = (1L to 8L).toArray
    val edges = Array((1L, 2L, 1.0), (1L, 3L, 1.0), (1L, 4L, 1.0),
      (2L, 3L, 1.0), (2L, 4L, 1.0), (3L, 4L, 1.0),
      (5L, 6L, 1.0), (5L, 7L, 1.0), (5L, 8L, 1.0),
      (6L, 7L, 1.0), (6L, 8L, 1.0), (7L, 8L, 1.0), (4L, 5L, 1.0))
    val map = Algorithms.louvainLocalSolve(verts, edges, 1e-9)
    assert(map == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L))
    // no-edge vertices stay their own singletons
    assert(Algorithms.louvainLocalSolve(Array(3L, 9L), Array((3L, 3L, 1.0)),
      1e-9) == Map(3L -> 3L, 9L -> 9L))
  }

  test("louvain: weighted self-loop modularity hand values") {
    // (1,1,w=2) self + (1,2,w=3): m=5, k1 = 2·2+3 = 7, k2 = 3.
    // together: e=5, D=10 → Q = 5/5 − (10/10)² = 0
    // apart: Q = 2/5 − (7/10)² + 0 − (3/10)² = −0.18
    val es = Seq((1L, 1L, 2.0), (1L, 2L, 3.0)).toDF("src", "dst", "w")
    val together = Seq((1L, 0L), (2L, 0L)).toDF("id", "comm")
    val apart = Seq((1L, 1L), (2L, 2L)).toDF("id", "comm")
    assert(math.abs(Algorithms.weightedModularity(es, together)) < 1e-12)
    assert(math.abs(Algorithms.weightedModularity(es, apart) + 0.18) < 1e-12)
    // unweighted simple graph: scalar twin equals modularity()'s sum
    val e2 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val asg = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 4L)).toDF("id", "comm")
    val perComm = Algorithms.modularity(e2,
        asg.select(col("id"), col("comm").as("community")))
      .collect().map(_.getDouble(3)).sum
    assert(math.abs(Algorithms.weightedModularity(e2, asg) - perComm) < 1e-12)
  }

  test("ktruss: two K4s sharing an edge survive k=4; lone triangle only k=3") {
    // K4 {1..4} and K4 {3,4,5,6} share edge (3,4); triangle {7,8,9}
    // hangs off vertex 7 via nothing (disconnected). Every K4 edge
    // closes 2 triangles within its clique → 4-truss = both K4s; the
    // lone triangle's edges close 1 each → peeled at k=4, kept at k=3.
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k4b = Seq((3L, 4L), (3L, 5L), (3L, 6L), (4L, 5L), (4L, 6L), (5L, 6L))
    val tri = Seq((7L, 8L), (7L, 9L), (8L, 9L))
    val es = (k4a ++ k4b ++ tri).distinct.toDF("src", "dst")
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet(Algorithms.kTruss(es, k = 4)) == (k4a ++ k4b).toSet)
    assert(edgeSet(Algorithms.kTruss(es, k = 3)) ==
      (k4a ++ k4b ++ tri).toSet)
    // k=5 kills everything: no edge closes 3 triangles here
    assert(Algorithms.kTruss(es, k = 5).isEmpty)
  }

  test("ktruss: peeling cascades — pendant triangle on a K4 falls, K4 stays") {
    // K4 {1..4} plus pendant path closing a triangle {4,5,6}: edge
    // (4,5),(4,6),(5,6) each close 1 triangle → peeled at k=4; their
    // removal must NOT take K4 edges with them (support recomputed
    // within survivors stays 2).
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val es = (k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L))).toDF("src", "dst")
    val t = Algorithms.kTruss(es, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t == k4.toSet)
  }

  test("ktruss: random-graph parity with plain-Scala brute peeling") {
    for (seed <- Seq(7, 11)) {
      val rnd = new scala.util.Random(seed)
      val vN = 25
      val esr = Seq.fill(140)({
        val a = 1L + rnd.nextInt(vN); val b = 1L + rnd.nextInt(vN)
        (math.min(a, b), math.max(a, b))
      }).filter { case (a, b) => a != b }.distinct
      def brute(edges: Set[(Long, Long)], k: Int): Set[(Long, Long)] = {
        var e = edges
        var done = false
        while (!done) {
          val adj = scala.collection.mutable.Map[Long, Set[Long]]()
            .withDefaultValue(Set.empty)
          for ((a, b) <- e) { adj(a) += b; adj(b) += a }
          val bad = e.filter { case (a, b) =>
            (adj(a) & adj(b)).size < k - 2 }
          if (bad.isEmpty) done = true else e = e -- bad
        }
        e
      }
      for (k <- Seq(3, 4, 5)) {
        val got = Algorithms.kTruss(esr.toDF("src", "dst"), k).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == brute(esr.toSet, k), s"seed=$seed k=$k")
      }
    }
  }

  test("landmarks: bounds bracket exact distances; star center is exact") {
    // star: center 1, leaves 2..6 → landmark = 1 (highest degree);
    // every leaf pair has d=2 and the center landmark makes ub exact
    val star = (2L to 6L).map(i => (1L, i)).toDF("src", "dst")
    val idx = Algorithms.landmarkIndex(star, numLandmarks = 1, maxHops = 4)
    assert(idx.filter(col("source") =!= 1L).isEmpty,
      "highest-degree landmark must be the center")
    import spark.implicits._
    val pairs = (for (u <- 2L to 6L; v <- (u + 1) to 6L) yield (u, v))
      .toDF("u", "v")
    val b = Algorithms.landmarkBounds(idx, pairs).collect()
    assert(b.length == 10)
    b.foreach { r =>
      assert(r.getInt(2) == 0 && r.getInt(3) == 2, r.toString) // lb=|1-1|, ub=2 exact
    }
  }

  test("landmarks: lb <= exact <= ub on random graphs vs plain-Scala BFS") {
    for (seed <- Seq(3, 9)) {
      val rnd = new scala.util.Random(seed)
      val vN = 24
      val esr = Seq.fill(50)({
        val a = 1L + rnd.nextInt(vN); val b = 1L + rnd.nextInt(vN)
        (math.min(a, b), math.max(a, b))
      }).filter { case (a, b) => a != b }.distinct
      val adj = scala.collection.mutable.Map[Long, Set[Long]]()
        .withDefaultValue(Set.empty)
      for ((a, b) <- esr) { adj(a) += b; adj(b) += a }
      def exact(s: Long, t: Long): Option[Int] = {
        var seen = Map(s -> 0)
        var frontier = Set(s)
        var h = 0
        while (frontier.nonEmpty && !seen.contains(t) && h < 10) {
          h += 1
          frontier = frontier.flatMap(adj).filterNot(seen.contains)
          frontier.foreach(x => seen += x -> h)
        }
        seen.get(t)
      }
      val idx = Algorithms.landmarkIndex(esr.toDF("src", "dst"),
        numLandmarks = 3, maxHops = 8)
      val vids = esr.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val pairs = (for (u <- vids; v <- vids if u < v) yield (u, v))
        .toDF("u", "v")
      val got = Algorithms.landmarkBounds(idx, pairs).collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        val (u, v, lb, ub) =
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))
        exact(u, v) match {
          case Some(d) => assert(lb <= d && d <= ub,
            s"seed=$seed ($u,$v): lb=$lb d=$d ub=$ub")
          case None => // pair disconnected: a landmark reaching both
            // would prove connectivity — must not happen
            fail(s"seed=$seed ($u,$v) has bounds but is disconnected")
        }
      }
    }
  }

  test("temporal reachability: time-respecting paths only; earliest arrival exact") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val sentinel = ts("1990-01-01")
    // 1→2 @ 2000; 2→3 @ 1998 (BEFORE arrival at 2 — not traversable);
    // 2→3 @ 2001 (traversable); 3→4 @ 2000 (before arrival 2001 at 3
    // — not traversable, so 4 is temporally unreachable from 1)
    val te = Seq(
      (1L, 2L, ts("2000-01-01")),
      (2L, 3L, ts("1998-01-01")),
      (2L, 3L, ts("2001-06-01")),
      (3L, 4L, ts("2000-01-01"))).toDF("src", "dst", "d")
    val seeds = Seq(1L).toDF("id")
    val got = Algorithms.temporalReachability(te, seeds, sentinel)
      .collect().map(r => (r.getLong(1), r.getTimestamp(2))).toMap
    assert(got == Map(
      1L -> sentinel,
      2L -> ts("2000-01-01"),
      3L -> ts("2001-06-01")))
    // plain reachability WOULD claim 4 (1→2→3→4 ignoring time):
    // the temporal answer must not
    assert(!got.contains(4L))
    // equal timestamps chain (>= not >): 5→6 and 6→7 at the same date
    val te2 = Seq((5L, 6L, ts("1999-01-01")), (6L, 7L, ts("1999-01-01")))
      .toDF("src", "dst", "d")
    val got2 = Algorithms.temporalReachability(te2,
        Seq(5L).toDF("id"), sentinel)
      .collect().map(r => (r.getLong(1), r.getTimestamp(2))).toMap
    assert(got2(7L) == ts("1999-01-01"))
    // earliest-arrival minimality: a later parallel edge must not
    // displace the earlier arrival
    val te3 = Seq((1L, 2L, ts("1995-01-01")), (1L, 2L, ts("1996-01-01")))
      .toDF("src", "dst", "d")
    val got3 = Algorithms.temporalReachability(te3,
        Seq(1L).toDF("id"), sentinel)
      .collect().map(r => (r.getLong(1), r.getTimestamp(2))).toMap
    assert(got3(2L) == ts("1995-01-01"))
  }

  test("temporal reachability: random temporal graphs vs plain-Scala relaxation") {
    import java.sql.Timestamp
    val sentinel = Timestamp.valueOf("1990-01-01 00:00:00")
    for (seed <- Seq(13, 21)) {
      val rnd = new scala.util.Random(seed)
      val vN = 15
      val esr = Seq.fill(60)({
        (1L + rnd.nextInt(vN), 1L + rnd.nextInt(vN),
          Timestamp.valueOf(s"${1995 + rnd.nextInt(6)}-0${1 + rnd.nextInt(9)}-01 00:00:00"))
      }).filter(e => e._1 != e._2)
      def brute(s0: Long): Map[Long, Timestamp] = {
        var arrival = Map(s0 -> sentinel)
        var changed = true
        while (changed) {
          changed = false
          for ((u, v, d) <- esr) arrival.get(u) match {
            case Some(au) if !d.before(au) &&
                arrival.get(v).forall(d.before) =>
              arrival += v -> d; changed = true
            case _ =>
          }
        }
        arrival
      }
      val got = Algorithms.temporalReachability(
          esr.toDF("src", "dst", "d"), Seq(1L, 2L).toDF("id"), sentinel)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getTimestamp(2)).toMap
      val want = Seq(1L, 2L).flatMap(s0 =>
        brute(s0).map { case (v, d) => (s0, v) -> d }).toMap
      assert(got == want, s"seed=$seed")
      // the ascending date-bucket option (the 100 TB fanout-capped
      // path) is answer-identical to the flat default by construction
      val bucketed = Algorithms.temporalReachability(
          esr.toDF("src", "dst", "d"), Seq(1L, 2L).toDF("id"), sentinel,
          dateBuckets = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getTimestamp(2)).toMap
      assert(bucketed == want, s"seed=$seed (dateBuckets=3)")
      // r13: force the SCAN-ONLY state merge (a 96-byte threshold
      // licenses 3 rows of a 32-byte improvement and 4 of the 24-byte
      // arrival state, so arrivalUb outgrows the license while
      // per-round improvements still fit) — answer-identical to the
      // shuffling groupBy merge
      val scanMerged = withConf(
          "spark.sql.autoBroadcastJoinThreshold" -> "96") {
        Algorithms.temporalReachability(
            esr.toDF("src", "dst", "d"), Seq(1L, 2L).toDF("id"), sentinel)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getTimestamp(2)).toMap
      }
      assert(scanMerged == want, s"seed=$seed (3-row improvement license)")
    }
  }

  test("temporal reachability: round budget is per bucket, and any " +
    "non-fixpoint exit fails loudly") {
    import java.sql.Timestamp
    def ts(y: Int) = Timestamp.valueOf(s"$y-01-01 00:00:00")
    val sentinel = ts(1990)
    // 6-edge chain, one edge per year: each of 2 date buckets holds a
    // 3-hop sub-chain needing 3 improving rounds + 1 fixpoint round
    val chain = (0 until 6).map(i =>
      (i + 1L, i + 2L, ts(2000 + i))).toDF("src", "dst", "d")
    val seeds = Seq(1L).toDF("id")
    // maxRounds = 4 suffices PER BUCKET but not SHARED across both —
    // under the pre-r11 shared budget bucket 2's loop never ran and
    // vertices 5..7 were silently dropped with the require passing
    val got = Algorithms.temporalReachability(chain, seeds, sentinel,
        maxRounds = 4, dateBuckets = 2)
      .collect().map(r => (r.getLong(1), r.getTimestamp(2))).toMap
    assert(got == ((1L -> sentinel) +: (0 until 6).map(i =>
      (i + 2L) -> ts(2000 + i))).toMap,
      "later buckets must get their own round budget")
    // genuinely insufficient budget must throw, not return partials
    val e1 = intercept[IllegalArgumentException] {
      Algorithms.temporalReachability(chain, seeds, sentinel,
        maxRounds = 2, dateBuckets = 2).collect()
    }
    assert(e1.getMessage.contains("did not converge"))
    // degenerate maxRounds = 0 (loop never entered, improvedCnt
    // still -1) must ALSO throw — the advisor's silent-pass shape
    val e0 = intercept[IllegalArgumentException] {
      Algorithms.temporalReachability(chain, seeds, sentinel,
        maxRounds = 0).collect()
    }
    assert(e0.getMessage.contains("did not converge"))
  }

  test("node2vec: plain-Scala simulator parity; transitions valid; deterministic") {
    for (seedv <- Seq(4, 8)) {
      val rnd = new scala.util.Random(seedv)
      val vN = 12
      val esr = Seq.fill(30)({
        val a = 1L + rnd.nextInt(vN); val b = 1L + rnd.nextInt(vN)
        (math.min(a, b), math.max(a, b))
      }).filter(e => e._1 != e._2).distinct
      val (wr, wc, wf) = (1L, 4L, 2L)
      val doubled = (esr ++ esr.map(e => (e._2, e._1))).distinct
      val adj = doubled.groupBy(_._1).view
        .mapValues(_.map(_._2).sorted).toMap
      val eset = doubled.toSet
      def key(walk: Long, step: Long, cur: Long): Long =
        (walk % 1000003L) * 1103515245L + step * 12345L +
          (cur % 1000033L) * 2654435761L
      def simulate(start: Long, len: Int): Seq[(Long, Long)] = {
        var out = Seq((0L, start))
        // step 1: first-order ranked pick
        var prev = start
        var cur = adj.get(start) match {
          case Some(ns) => ns((key(start, 1, start) % ns.size).toInt)
          case None => return out
        }
        out :+= (1L, cur)
        var s = 2
        var stopped = false
        while (s <= len && !stopped) {
          val cands = adj.getOrElse(cur, Seq.empty).map { d =>
            val w = if (d == prev) wr
              else if (eset.contains((prev, d))) wc else wf
            (d, w)
          }.filter(_._2 > 0)
          if (cands.isEmpty) stopped = true
          else {
            val tot = cands.map(_._2).sum
            val r = key(start, s, cur) % tot
            var acc = 0L
            var pick = -1L
            for ((d, w) <- cands if pick < 0) {
              acc += w; if (r < acc) pick = d
            }
            out :+= (s.toLong, pick)
            prev = cur; cur = pick; s += 1
          }
        }
        out
      }
      val vids = doubled.map(_._1).distinct.sorted
      val got = Algorithms.node2vecWalks(vids.toDF("id"),
          esr.toDF("src", "dst"), walkLength = 4, undirected = true)
        .collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.sortBy(_.getInt(1))
          .map(r => (r.getInt(1).toLong, r.getLong(2))).toSeq).toMap
      for (v <- vids)
        assert(got(v) == simulate(v, 4), s"seed=$seedv start=$v")
    }
  }

  test("node2vec: class weights steer — wFar=0 confines the walk to the triangle") {
    // triangle {1,2,3} with tail 3-4: from inside the triangle every
    // move is return (1↔) or common (within-triangle); the tail hop
    // 3→4 is 'far' (4 is no neighbor of the previous vertex), so
    // wFar=0 forbids it and walks never leave {1,2,3} after entering
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val vs = Seq(1L, 2L, 3L).toDF("id")
    val walks = Algorithms.node2vecWalks(vs, es, walkLength = 6,
      wReturn = 1, wCommon = 4, wFar = 0, undirected = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // steps >= 2 never visit vertex 4 (step-1 is first-order and MAY
    // hop 3→4; from there every candidate is far → the walker stops)
    assert(walks.filter(_._2 >= 2).forall(_._3 != 4L), walks.mkString(","))
  }

  test("coreness: h-index fixpoint equals brute peel coreness") {
    // K4 {1..4} (coreness 3) + bridge 4-5-6 + triangle {6,7,8}: the
    // bridge vertex 5 has degree 2 with both neighbors kept, so the
    // WHOLE graph has min degree 2 → 5's coreness is 2 (the easy
    // wrong guess is 1 — coreness needs min degree within the
    // subgraph, not a cycle); a pendant 8-9 edge IS coreness 1
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (6L, 8L), (7L, 8L),
      (8L, 9L))
    val got = Algorithms.coreness(es.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 2L, 9L -> 1L))
    // random graphs vs brute peeling coreness
    for (seed <- Seq(6, 10)) {
      val rnd = new scala.util.Random(seed)
      val vN = 22
      val esr = Seq.fill(90)({
        val a = 1L + rnd.nextInt(vN); val b = 1L + rnd.nextInt(vN)
        (math.min(a, b), math.max(a, b))
      }).filter(e => e._1 != e._2).distinct
      def peelCoreness(edges: Set[(Long, Long)]): Map[Long, Long] = {
        var core = Map.empty[Long, Long]
        var k = 1L
        var e = edges
        while (e.nonEmpty) {
          // peel to the k-core; everything dropped on the way has
          // coreness k-1... record survivors as >= k
          var stable = false
          while (!stable) {
            val deg = scala.collection.mutable.Map[Long, Int]()
              .withDefaultValue(0)
            for ((a, b) <- e) { deg(a) += 1; deg(b) += 1 }
            val bad = e.filter { case (a, b) =>
              deg(a) < k || deg(b) < k }
            if (bad.isEmpty) stable = true else e = e -- bad
          }
          e.flatMap(x => Seq(x._1, x._2)).foreach(v => core += v -> k)
          k += 1
        }
        core
      }
      val want = peelCoreness(esr.toSet)
      val got2 = Algorithms.coreness(esr.toDF("src", "dst")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got2 == want, s"seed=$seed")
    }
  }

  test("coreness: hub fixture — capped-count h-index handles a skewed " +
    "high-degree vertex exactly") {
    // one 203-degree hub (200 pendant leaves + membership in a K4):
    // the capped-count round must produce hub coreness 3 (the K4),
    // leaves 1 — the case where the naive value-filter `nc >= c(v)`
    // fails (the hub's first-round c is 203 but all its pendant
    // neighbors hold value 1)
    val hub = 100L
    val k4 = Seq((hub, 1L), (hub, 2L), (hub, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L))
    val leaves = (101L to 300L).map(l => (hub, l))
    val got = Algorithms.coreness((k4 ++ leaves).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(hub) == 3L && got(1L) == 3L && got(2L) == 3L &&
      got(3L) == 3L)
    assert((101L to 300L).forall(got(_) == 1L))
  }

  test("triangle sketch: k=1 is exact; sample deterministic and md5-consistent") {
    val rnd = new scala.util.Random(17)
    val esr = Seq.fill(80)({
      val a = 1L + rnd.nextInt(18); val b = 1L + rnd.nextInt(18)
      (math.min(a, b), math.max(a, b))
    }).filter(e => e._1 != e._2).distinct
    val df = esr.toDF("src", "dst")
    val exact = Algorithms.triangleCount(df).head().getLong(0)
    val k1 = Algorithms.triangleCountSampled(df, k = 1).head()
    assert(k1.getLong(0) == esr.size.toLong &&
      k1.getLong(1) == exact)
    // k=2: the sample is the md5-hash-selected half — recompute it
    // in plain Scala (hex prefix of md5("src_dst") mod 2) and pin
    // both the edge count and the scaled estimate
    def md5mod2(a: Long, b: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${a}_$b".getBytes("UTF-8"))
      val hex = d.take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 2 == 0
    }
    val sampled = esr.filter(e => md5mod2(e._1, e._2))
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    for ((a, b) <- sampled) { adj(a) += b; adj(b) += a }
    val triSample = sampled.map { case (a, b) =>
      (adj(a) & adj(b)).count(c => c > b) }.sum
    val k2 = Algorithms.triangleCountSampled(df, k = 2).head()
    assert(k2.getLong(0) == sampled.size.toLong)
    assert(k2.getLong(1) == triSample.toLong * 8)
    // determinism
    assert(Algorithms.triangleCountSampled(df, k = 2).head() == k2)
  }

  test("ktruss: edgeSupport hand values incl zero-support edges") {
    // triangle {1,2,3} + pendant edge (3,4)
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val sup = Algorithms.edgeSupport(es).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sup == Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 1L,
      (3L, 4L) -> 0L))
  }

  test("job budgets: SCC, k-core and BFS on a fixed graph stay within " +
    "their measured job counts") {
    // two cycles joined by a bridge, plus a pendant: SCCs {1,2,3},
    // {4,5}, {6}; the undirected 2-core drops 6; BFS from 1 reaches 6
    // in five hops
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L),
      (5L, 6L)).toDF("src", "dst")
    val v = (1L to 6L).map(Tuple1(_)).toDF("id")
    def pairs(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every job the operator fires, result collect included
    val (scc, sccJobs) = jobsOf(
      pairs(Algorithms.stronglyConnectedComponents(v, e)))
    assert(scc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L))
    val (core, coreJobs) = jobsOf(pairs(Algorithms.kCore(e, 2)))
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 3L, 5L -> 2L))
    val (bfs, bfsJobs) = jobsOf(pairs(Algorithms.multiSourceBfs(e,
      Seq(1L).toDF("id"), maxHops = 6).select("id", "hops")
      .withColumn("hops", col("hops").cast("long"))))
    assert(bfs == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L,
      6L -> 5L))
    // the same SCC with every round distributed (a 0-row license)
    val (sccLoop, sccLoopJobs) = withConf(zeroLicense)(jobsOf(
      pairs(Algorithms.stronglyConnectedComponents(v, e))))
    assert(sccLoop == scc)
    info(s"scc=$sccJobs sccLoop=$sccLoopJobs kcore=$coreJobs bfs=$bfsJobs")
    // budgets are the counts measured on this fixture with every
    // per-round size read from its counted cut (an eager cut plus a
    // separate count read 139, 13 and 38); a change that adds a job
    // to a round fails here. SCC finishes on the driver at entry (128
    // jobs before the local finish); its distributed loop keeps the
    // count it had then. The loop is forced by a 1-byte threshold,
    // which also turns off Spark's own size-based broadcasts of the
    // small input frames
    val budgets = Seq(("scc", sccJobs, 6), ("sccLoop", sccLoopJobs, 170),
      ("kcore", coreJobs, 9), ("bfs", bfsJobs, 26))
    budgets.foreach { case (name, n, bound) =>
      assert(n <= bound, s"$name: $n jobs, budget $bound")
    }
  }
}
