package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{Layout, Sampling, VecExpressions}

/** Property tests for the invariant-heavy scalar primitives. Inputs
  * come from scalacheck generators (fixed seed — failures reproduce),
  * but each property evaluates as ONE DataFrame job over the whole
  * generated batch, not one job per case, so the suite stays fast.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(42L))

  test("property: zorder key bit-exactly interleaves and is invertible") {
    val pairs = sample(Gen.zip(Gen.choose(0L, 255L), Gen.choose(0L, 255L)), 500)
    val df = pairs.toDF("x", "y")
      .withColumn("z", Layout.zorderKey(Seq(col("x"), col("y")), 8))
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (x, y, z) =>
      // reference interleave in plain Scala
      var expect = 0L
      for (i <- 0 until 8) {
        expect |= ((x >> i) & 1L) << (2 * i)
        expect |= ((y >> i) & 1L) << (2 * i + 1)
      }
      assert(z == expect, s"($x,$y)")
      // invertible: de-interleaving recovers both dims
      var (rx, ry) = (0L, 0L)
      for (i <- 0 until 8) {
        rx |= ((z >> (2 * i)) & 1L) << i
        ry |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(rx == x && ry == y, s"($x,$y) -> $z")
    }
  }

  test("property: sorted_intersect equals set-intersection cardinality") {
    val gSet = Gen.listOf(Gen.choose(-50L, 50L)).map(_.distinct.sorted)
    val cases = sample(Gen.zip(gSet, gSet), 300)
      .filter { case (a, b) => a.nonEmpty && b.nonEmpty }
    val df = cases.toDF("a", "b")
      .withColumn("n", VecExpressions.sortedIntersect(spark, col("a"), col("b")))
    df.collect().foreach { r =>
      val a = r.getSeq[Long](0).toSet
      val b = r.getSeq[Long](1).toSet
      assert(r.getInt(2) == (a & b).size, s"$a ∩ $b")
    }
  }

  test("property: id hash / mix key stay in range for ANY non-negative id") {
    // includes the > 3.47e9 ids that overflowed the pre-round-5 recipe
    val ids = sample(Gen.oneOf(Gen.choose(0L, 10000L),
      Gen.choose(3L << 30, Long.MaxValue)), 500)
    val df = ids.toDF("id")
      .withColumn("h", Sampling.idHash(col("id")))
    df.collect().foreach { r =>
      val h = r.getLong(1)
      assert(h >= 0 && h < Sampling.Denominator, s"id=${r.getLong(0)} h=$h")
    }
    // deterministic: same ids, same hashes, any partitioning
    val again = ids.toDF("id").repartition(7)
      .withColumn("h", Sampling.idHash(col("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == first)
  }

  test("property: multiSourceBfs equals a reference BFS on random graphs") {
    // one random directed graph (25 vertices, ~60 edges) + seed set;
    // the DataFrame frontier loop must agree with a plain-Scala BFS
    // on every (source, vertex) min-hop pair, at a binding hop cap
    val vN = 25
    val edges = sample(
      Gen.zip(Gen.choose(1L, vN.toLong), Gen.choose(1L, vN.toLong)), 60)
      .filter { case (a, b) => a != b }.distinct
    val seeds = sample(Gen.choose(1L, vN.toLong), 6).distinct
    val maxHops = 4
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def refBfs(s: Long): Map[Long, Int] = {
      var dist = Map(s -> 0)
      var frontier = Seq(s)
      for (h <- 1 to maxHops) {
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .distinct.filterNot(dist.contains)
        frontier.foreach(v => dist += v -> h)
      }
      dist
    }
    val expect = seeds.flatMap(s =>
      refBfs(s).map { case (v, d) => (s, v) -> d }).toMap
    val got = graft.algorithms.Algorithms.multiSourceBfs(
        edges.toDF("src", "dst"), seeds.toDF("id"), maxHops)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == expect)
  }

  /** Reference SCC: textbook recursive Tarjan in plain Scala (fine at
    * this graph size), components labeled by their min member id —
    * the same convention `stronglyConnectedComponents` emits.
    */
  private def tarjanScc(vs: Seq[Long], es: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val idx = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.Stack.empty[Long]
    var next = 0
    var comps = List.empty[List[Long]]
    def strong(v: Long): Unit = {
      idx(v) = next; low(v) = next; next += 1
      stack.push(v); onStack += v
      for (w <- adj.getOrElse(v, Nil)) {
        if (!idx.contains(w)) { strong(w); low(v) = math.min(low(v), low(w)) }
        else if (onStack(w)) low(v) = math.min(low(v), idx(w))
      }
      if (low(v) == idx(v)) {
        var comp = List.empty[Long]
        var w = -1L
        while (w != v) { w = stack.pop(); onStack -= w; comp ::= w }
        comps ::= comp
      }
    }
    vs.foreach(v => if (!idx.contains(v)) strong(v))
    comps.flatMap { c => val m = c.min; c.map(_ -> m) }.toMap
  }

  test("property: label propagation equals a plain-Scala sync LPA on random graphs") {
    // synchronous min-tie LPA is a pure function of (graph, rounds):
    // the DataFrame loop must agree with a direct Scala simulation
    // on random undirected graphs, every vertex, every seed
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val vN = 20
      val vs = (1L to vN.toLong).toSeq
      val es = Seq.fill(35)((1L + rnd.nextInt(vN), 1L + rnd.nextInt(vN)))
        .filter { case (a, b) => a != b }.distinct
      val rounds = 4
      val und = (es ++ es.map(_.swap)).distinct
      val adj = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      var ref = vs.map(v => v -> v).toMap
      for (_ <- 1 to rounds) {
        val next = vs.map { v =>
          val nbrLabels = adj.getOrElse(v, Nil).map(ref)
          if (nbrLabels.isEmpty) v -> ref(v)
          else {
            val counts = nbrLabels.groupBy(identity).view.mapValues(_.size)
            v -> counts.toSeq.minBy { case (lbl, c) => (-c, lbl) }._1
          }
        }.toMap
        ref = next
      }
      val got = graft.algorithms.Algorithms.labelPropagation(
          vs.toDF("id"), es.toDF("src", "dst"),
          numIter = rounds, undirected = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.TransientCache.releaseAll()
      assert(got == ref, s"seed=$seed")
    }
  }

  test("property: SCC equals Tarjan on random graphs") {
    // random directed graph with planted cycles: base edges plus the
    // reverse of every third one (guarantees non-trivial SCCs without
    // collapsing everything into one), across three seeds. A tail of
    // two 2-cycles hangs off vertex 1: the first round colors it 1
    // but it cannot reach 1, so it outlives the first peel. Three
    // modes per seed: finished on the driver at entry, finished there
    // after one distributed peel, and fully distributed
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val tail = Seq((1L, 23L), (23L, 24L), (24L, 23L), (24L, 25L), (25L, 26L),
      (26L, 25L))
    for (seed <- Seq(42L, 43L, 44L)) {
      val vN = 22
      val base = Gen.listOfN(70,
          Gen.zip(Gen.choose(1L, vN.toLong), Gen.choose(1L, vN.toLong)))
        .pureApply(Gen.Parameters.default, Seed(seed))
        .filter { case (a, b) => a != b }.distinct
      val es = (base ++ base.zipWithIndex.collect {
        case ((a, b), i) if i % 3 == 0 => (b, a)
      } ++ tail).distinct
      val vs = (1L to vN.toLong + 4L)
      val expect = tarjanScc(vs, es)
      def scc(numIter: Int = 50) = jobsOf(
        graft.algorithms.Algorithms.stronglyConnectedComponents(
            vs.toDF("id"), es.toDF("src", "dst"), numIter = numIter)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      // default: the whole graph fits, finished on the driver at entry
      val (atEntry, _) = scc()
      assert(atEntry == expect, s"seed=$seed at entry")
      // 1 KB caps the license at 64 (src, dst) rows: the entry edges
      // exceed it, the residual after the first peel does not, so one
      // distributed round plus the local finish is exact
      assert(es.size > 64, s"seed=$seed: ${es.size} edges fit at entry")
      val (afterPeel, peelJobs) = withConf(key -> "1kb")(scc(numIter = 1))
      assert(afterPeel == expect, s"seed=$seed after a peel")
      // a 1-byte threshold licenses 0 rows: every round distributed
      val (distributed, loopJobs) = withConf(key -> "1")(scc())
      assert(distributed == expect, s"seed=$seed distributed")
      assert(peelJobs < loopJobs,
        s"seed=$seed: local finish $peelJobs jobs, loop $loopJobs")
      // one distributed round alone leaves SCCs unpeeled, so the exact
      // answer after a peel came from the driver
      assert(withConf(key -> "1")(scc(numIter = 1))._1 != expect,
        s"seed=$seed one round")
    }
  }

  test("SCC numIter cap: best-effort labels, logged, never silent-wrong peeled rows") {
    // a singleton-SCC chain 1→2→…→10 peels exactly ONE vertex per
    // outer round (each round's sole root is the current min id), so
    // numIter = 3 forces the cap path: peeled {1,2,3} keep exact
    // labels, and the unpeeled tail keeps the LAST round's forward
    // fixpoint — computed on remaining = {3..10} before 3 was peeled,
    // so every leftover carries the merged best-effort label 3.
    // a 1-byte broadcast threshold (a 0-row license) keeps the
    // distributed loop, whose rounds the cap counts (a residual that
    // fits is finished exactly instead)
    val chain = (1L until 10L).map(v => (v, v + 1))
    val vs = (1L to 10L).toDF("id")
    def distributed(numIter: Int) =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "1") {
        graft.algorithms.Algorithms.stronglyConnectedComponents(
            vs, chain.toDF("src", "dst"), numIter = numIter)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    val capped = distributed(3)
    assert(capped.keySet == (1L to 10L).toSet)
    (1L to 3L).foreach(v => assert(capped(v) == v, s"peeled $v"))
    (4L to 10L).foreach(v => assert(capped(v) == 3L, s"unpeeled $v"))
    // with the cap lifted the same input matches Tarjan exactly
    assert(distributed(50) == tarjanScc(1L to 10L, chain))
    // the default path finishes on the driver, exact at any cap
    val local = graft.algorithms.Algorithms.stronglyConnectedComponents(
        vs, chain.toDF("src", "dst"), numIter = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == tarjanScc(1L to 10L, chain))
  }

  test("property: betweenness equals reference Brandes on random graphs") {
    // textbook Brandes (2001): BFS forward pass accumulating sigma +
    // stack-ordered backward dependency accumulation, halved for the
    // undirected double count
    def refBrandes(vs: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Double] = {
      val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
        .withDefaultValue(Nil)
      edges.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
      val bc = scala.collection.mutable.Map(vs.map(_ -> 0.0): _*)
      for (s <- vs) {
        val stack = scala.collection.mutable.Stack.empty[Long]
        val pred = scala.collection.mutable.Map.empty[Long, List[Long]]
          .withDefaultValue(Nil)
        val sigma = scala.collection.mutable.Map.empty[Long, Double]
          .withDefaultValue(0.0)
        val dist = scala.collection.mutable.Map.empty[Long, Int]
        sigma(s) = 1.0; dist(s) = 0
        val q = scala.collection.mutable.Queue(s)
        while (q.nonEmpty) {
          val v = q.dequeue(); stack.push(v)
          for (w <- adj(v)) {
            if (!dist.contains(w)) { dist(w) = dist(v) + 1; q.enqueue(w) }
            if (dist(w) == dist(v) + 1) { sigma(w) += sigma(v); pred(w) ::= v }
          }
        }
        val delta = scala.collection.mutable.Map.empty[Long, Double]
          .withDefaultValue(0.0)
        while (stack.nonEmpty) {
          val w = stack.pop()
          for (v <- pred(w)) delta(v) += sigma(v) / sigma(w) * (1 + delta(w))
          if (w != s) bc(w) += delta(w)
        }
      }
      bc.map { case (k, x) => k -> x / 2 }.toMap
    }
    for (seed <- Seq(42L, 43L, 44L)) {
      val vN = 18
      // canonical a<b pairs so the undirected adjacency has no
      // parallel duplicates (sigma counts PATHS, not edge copies)
      val es = Gen.listOfN(40,
          Gen.zip(Gen.choose(1L, vN.toLong), Gen.choose(1L, vN.toLong)))
        .pureApply(Gen.Parameters.default, Seed(seed))
        .collect { case (a, b) if a != b =>
          (math.min(a, b), math.max(a, b)) }.distinct
      val vs = (1L to vN.toLong)
      val expect = refBrandes(vs, es)
      val got = graft.algorithms.Algorithms.betweennessCentrality(
          es.toDF("src", "dst"), vs.toDF("id"), maxHops = 20,
          undirected = true)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      vs.foreach { v =>
        assert(math.abs(got.getOrElse(v, 0.0) - expect(v)) < 1e-9,
          s"seed=$seed v=$v got=${got.getOrElse(v, 0.0)} want=${expect(v)}")
      }
    }
  }

  test("property: sampled betweenness is exact per-source; scaled estimate ranks like exact") {
    // Brandes-Pich pivot estimation contract: the partial sum over a
    // source sample S is EXACT (the estimator's only approximation is
    // which sources run), and the V/|S|-scaled estimate must agree
    // with exact betweenness on ordering
    def refBrandesFrom(vs: Seq[Long], edges: Seq[(Long, Long)],
        sources: Seq[Long]): Map[Long, Double] = {
      val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
        .withDefaultValue(Nil)
      edges.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
      val bc = scala.collection.mutable.Map(vs.map(_ -> 0.0): _*)
      for (s <- sources) {
        val stack = scala.collection.mutable.Stack.empty[Long]
        val pred = scala.collection.mutable.Map.empty[Long, List[Long]]
          .withDefaultValue(Nil)
        val sigma = scala.collection.mutable.Map.empty[Long, Double]
          .withDefaultValue(0.0)
        val dist = scala.collection.mutable.Map.empty[Long, Int]
        sigma(s) = 1.0; dist(s) = 0
        val q = scala.collection.mutable.Queue(s)
        while (q.nonEmpty) {
          val v = q.dequeue(); stack.push(v)
          for (w <- adj(v)) {
            if (!dist.contains(w)) { dist(w) = dist(v) + 1; q.enqueue(w) }
            if (dist(w) == dist(v) + 1) { sigma(w) += sigma(v); pred(w) ::= v }
          }
        }
        val delta = scala.collection.mutable.Map.empty[Long, Double]
          .withDefaultValue(0.0)
        while (stack.nonEmpty) {
          val w = stack.pop()
          for (v <- pred(w)) delta(v) += sigma(v) / sigma(w) * (1 + delta(w))
          if (w != s) bc(w) += delta(w)
        }
      }
      bc.map { case (k, x) => k -> x / 2 }.toMap
    }
    val vN = 18
    val es = Gen.listOfN(44,
        Gen.zip(Gen.choose(1L, vN.toLong), Gen.choose(1L, vN.toLong)))
      .pureApply(Gen.Parameters.default, Seed(7L))
      .collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.distinct
    val vs = (1L to vN.toLong)
    val sample = vs.filter(_ % 2 == 0) // deterministic 1-in-2 pivots
    val got = graft.algorithms.Algorithms.betweennessCentrality(
        es.toDF("src", "dst"), vs.toDF("id"), maxHops = 20,
        undirected = true,
        sources = Some(sample.toDF("id")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // 1) partial sum is exact vs the reference restricted to S
    val want = refBrandesFrom(vs, es, sample)
    vs.foreach { v =>
      assert(math.abs(got.getOrElse(v, 0.0) - want(v)) < 1e-9,
        s"v=$v got=${got.getOrElse(v, 0.0)} want=${want(v)}")
    }
    // 2) the scaled estimate (× V/|S|) rank-correlates with exact:
    // Spearman over all vertices ≥ 0.85 on this seeded graph
    val exact = refBrandesFrom(vs, es, vs)
    val scaled = vs.map(v =>
      v -> got.getOrElse(v, 0.0) * vN.toDouble / sample.size).toMap
    def ranks(m: Map[Long, Double]): Map[Long, Double] = {
      val sorted = m.toSeq.sortBy { case (id, x) => (x, id) }
      // average ranks over ties so the statistic is well-defined
      sorted.groupBy(_._2).flatMap { case (_, grp) =>
        val idxs = grp.map(p => sorted.indexWhere(_ == p).toDouble)
        val avg = idxs.sum / idxs.size
        grp.map(p => p._1 -> avg)
      }
    }
    val (re, rs) = (ranks(exact), ranks(scaled))
    val n = vs.size.toDouble
    val (me, ms) = (re.values.sum / n, rs.values.sum / n)
    val cov = vs.map(v => (re(v) - me) * (rs(v) - ms)).sum
    val sde = math.sqrt(vs.map(v => math.pow(re(v) - me, 2)).sum)
    val sds = math.sqrt(vs.map(v => math.pow(rs(v) - ms, 2)).sum)
    val spearman = cov / (sde * sds)
    assert(spearman >= 0.85, s"spearman=$spearman")
  }

  test("property: weighted sssp equals a reference Dijkstra on random graphs") {
    // random weighted directed graph; the Pregel relaxation loop must
    // agree with a textbook driver-side Dijkstra on every distance
    val vN = 20
    val raw = sample(Gen.zip(Gen.zip(Gen.choose(1L, vN.toLong),
      Gen.choose(1L, vN.toLong)), Gen.choose(1, 9)), 55)
      .collect { case ((a, b), w) if a != b => (a, b, w / 2.0) }
      .distinctBy(e => (e._1, e._2))
    val adj = raw.groupBy(_._1)
      .map { case (k, v) => k -> v.map(e => (e._2, e._3)) }
    def refDijkstra(s: Long): Map[Long, Double] = {
      val dist = scala.collection.mutable.Map(s -> 0.0)
      val done = scala.collection.mutable.Set.empty[Long]
      while (done.size < dist.size) {
        val (u, du) = dist.iterator.filterNot(kv => done(kv._1)).minBy(_._2)
        done += u
        adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (du + w < dist.getOrElse(v, Double.PositiveInfinity))
            dist(v) = du + w
        }
      }
      dist.toMap
    }
    val vs = (1L to vN.toLong).toDF("id")
    val es = raw.toDF("src", "dst", "weight")
    for (source <- Seq(1L, 7L)) {
      // no finiteness filter here: sssp documents that unreachable
      // vertices are DROPPED, so an +Infinity row leaking out must
      // fail this equality, not be silently stripped
      val got = graft.algorithms.Algorithms.sssp(vs, es, source)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == refDijkstra(source), s"source=$source")
    }
  }

  test("property: kCore equals a reference peel loop on random graphs") {
    val vN = 18
    val es = sample(Gen.zip(Gen.choose(1L, vN.toLong), Gen.choose(1L, vN.toLong)), 70)
      .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
      .distinct
    def refCore(k: Int): Map[Long, Long] = {
      // iteratively drop vertices with incident-edge count < k
      var edges = es
      var changed = true
      while (changed) {
        val deg = edges.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (v, o) => v -> o.size.toLong }
        val bad = deg.filter(_._2 < k).keySet
        changed = bad.nonEmpty
        edges = edges.filterNot(e => bad(e._1) || bad(e._2))
      }
      edges.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (v, o) => v -> o.size.toLong }
    }
    for (k <- Seq(2, 3)) {
      val got = graft.algorithms.Algorithms.kCore(es.toDF("src", "dst"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == refCore(k), s"k=$k")
    }
  }

  test("property: triangles equal brute-force triple enumeration") {
    val vN = 16
    val es = sample(Gen.zip(Gen.choose(1L, vN.toLong), Gen.choose(1L, vN.toLong)), 80)
      .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
      .distinct
    val eSet = es.toSet
    val expect = (for {
      (a, b) <- es
      c <- (b + 1) to vN.toLong
      if eSet((b, c)) && eSet((a, c))
    } yield (a, b, c)).toSet
    val got = graft.algorithms.Algorithms.triangles(es.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
    assert(expect.nonEmpty) // the generated graph must exercise the join
  }

  test("property: pageRank equals a plain power iteration (reference recurrence)") {
    // the reference's exact recurrence: init 1/n, update
    // (1-d)/n + d * sum(score/outdeg), NO dangling redistribution,
    // no normalization — any deviation (normalizing, redistributing)
    // would diverge on a random graph with dangling vertices
    val vN = 15
    val es = sample(Gen.zip(Gen.choose(1L, vN.toLong), Gen.choose(1L, vN.toLong)), 40)
      .filter { case (a, b) => a != b }.distinct
    val d = 0.85
    val iters = 10
    val outDeg = es.groupBy(_._1).map { case (k, v) => k -> v.size }
    val inNbrs = es.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    var score = (1L to vN.toLong).map(_ -> 1.0 / vN).toMap
    for (_ <- 1 to iters) {
      score = score.map { case (v, _) =>
        val in = inNbrs.getOrElse(v, Nil)
          .map(u => score(u) / outDeg(u)).sum
        v -> ((1 - d) / vN + d * in)
      }
    }
    val got = graft.algorithms.Algorithms.pageRank(
        (1L to vN.toLong).toDF("id"), es.toDF("src", "dst"), d, iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == score.keySet)
    score.foreach { case (v, s) =>
      assert(math.abs(got(v) - s) < 1e-9, s"v=$v ref=$s got=${got(v)}")
    }
  }

  test("property: media header parsers never throw on arbitrary bytes") {
    // the decode contract is None-not-throw for malformed streams; a
    // partition must survive ANY byte garbage, including byte runs
    // that start like valid magics
    val gBytes = Gen.oneOf(
      Gen.listOf(Gen.choose(0, 255)),
      // adversarial prefixes: PNG signature, JPEG SOI, RIFF/WAVE
      Gen.listOf(Gen.choose(0, 255)).map(t =>
        List(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A) ++ t),
      Gen.listOf(Gen.choose(0, 255)).map(t => List(0xFF, 0xD8) ++ t),
      Gen.listOf(Gen.choose(0, 255)).map(t =>
        "RIFF".getBytes("US-ASCII").map(_.toInt).toList ++
          List(0x10, 0, 0, 0) ++ "WAVE".getBytes("US-ASCII").map(_.toInt).toList ++ t))
    sample(gBytes, 400).foreach { ints =>
      val p = ints.map(_.toByte).toArray
      // must return (possibly None) without throwing
      graft.multimodal.Multimodal.decodeHeader(p)
      graft.multimodal.Multimodal.decodeWavHeader(p)
    }
  }

  /** Render a random WHERE expression back to GQL text — the inverse
    * of the parser's grammar for the Expr subset.
    */
  private def renderExpr(e: graft.gql.Ast.Expr): String = {
    import graft.gql.Ast._
    def v(x: GqlValue): String = x match {
      case GqlString(s) => "\"" + s + "\""
      case GqlInt(i) => i.toString
      case GqlFloat(f) =>
        // Locale.ROOT: the f-interpolator would render a decimal
        // COMMA under e.g. de_DE defaults, which the grammar's
        // number regex rightly rejects
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(f))
      case GqlBool(b) => b.toString
      case GqlNull => "null"
    }
    e match {
      case PropRef(a, p) => s"$a.$p"
      case Literal(x) => v(x)
      case Comparison(l, op, r) => s"${renderExpr(l)} $op ${renderExpr(r)}"
      case And(l, r) => s"(${renderExpr(l)} AND ${renderExpr(r)})"
      case Or(l, r) => s"(${renderExpr(l)} OR ${renderExpr(r)})"
      case Not(x) => s"NOT ${renderExpr(x)}"
      case In(l, vs) => s"${renderExpr(l)} IN [${vs.map(v).mkString(", ")}]"
      case Contains(l, r) => s"${renderExpr(l)} CONTAINS ${renderExpr(r)}"
      case StartsWith(l, r) => s"${renderExpr(l)} STARTS WITH ${renderExpr(r)}"
      case EndsWith(l, r) => s"${renderExpr(l)} ENDS WITH ${renderExpr(r)}"
      case Like(l, pat) => s"""${renderExpr(l)} LIKE "$pat""""
      case Arith(l, op, r) => s"${renderExpr(l)} $op ${renderExpr(r)}"
      case IsNull(l, neg) =>
        s"${renderExpr(l)} IS ${if (neg) "NOT " else ""}NULL"
      case other => fail(s"renderExpr: generator never produces $other")
    }
  }

  test("property: GQL parser round-trips random WHERE expressions") {
    import graft.gql.Ast._
    val gVal: Gen[GqlValue] = Gen.oneOf(
      Gen.alphaStr.map(s => GqlString(s.take(8))),
      Gen.choose(-1000L, 1000L).map(GqlInt.apply),
      Gen.choose(-100, 100).map(i => GqlFloat(i / 4.0 + 0.25)),
      Gen.oneOf(GqlBool(true), GqlBool(false)))
    val gProp: Gen[Expr] =
      Gen.zip(Gen.oneOf("v", "n"), Gen.oneOf("age", "name", "x"))
        .map { case (a, b) => PropRef(a, b) }
    val gLeaf: Gen[Expr] = Gen.oneOf(
      gProp,
      Gen.zip(gProp, Gen.oneOf("=", "!=", "<", "<=", ">", ">="), gVal)
        .map { case (l, op, r) => Comparison(l, op, Literal(r)) },
      Gen.zip(gProp, Gen.nonEmptyListOf(gVal).map(_.take(4)))
        .map { case (l, vs) => In(l, vs) },
      Gen.zip(gProp, gVal.map(Literal.apply))
        .map { case (l, r) => Contains(l, r) },
      Gen.zip(gProp, gVal.map(Literal.apply))
        .map { case (l, r) => StartsWith(l, r) },
      Gen.zip(gProp, gVal.map(Literal.apply))
        .map { case (l, r) => EndsWith(l, r) },
      Gen.zip(gProp, Gen.listOfN(6,
        Gen.frequency(4 -> Gen.alphaChar, 1 -> Gen.const('%'),
          1 -> Gen.const('_'), 1 -> Gen.const('\\'))).map(_.mkString))
        .map { case (l, s) => Like(l, s) })
    def gExpr(depth: Int): Gen[Expr] =
      if (depth == 0) gLeaf
      else Gen.frequency(
        3 -> gLeaf,
        1 -> Gen.zip(gExpr(depth - 1), gExpr(depth - 1))
          .map { case (a, b) => And(a, b) },
        1 -> Gen.zip(gExpr(depth - 1), gExpr(depth - 1))
          .map { case (a, b) => Or(a, b) },
        1 -> gExpr(depth - 1).map(Not.apply))
    sample(gExpr(3), 250).foreach { e =>
      val q = s"MATCH (v:Person) WHERE ${renderExpr(e)} RETURN v.name"
      graft.gql.GqlParser.parse(q) match {
        case Right(MatchStatement(_, Some(parsed), _, _, _, _, _, _, _, _, _)) =>
          assert(parsed == e, s"$q\nexpected $e\ngot      $parsed")
        case other => fail(s"$q -> $other")
      }
    }
  }

  test("property: normalizeDim clamps any long into [0, 2^bits), order-preserving") {
    val cases = sample(Gen.choose(-100000L, 100000L), 400).distinct.sorted
    val df = cases.toDF("v")
      .withColumn("b", Layout.normalizeDim(col("v"), -1000L, 1000L, 8))
    val rows = df.orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1)))
    rows.foreach { case (v, b) =>
      assert(b >= 0 && b < 256, s"v=$v b=$b")
    }
    // monotone: sorting by the value never decreases the bucket
    rows.sliding(2).foreach {
      case Array((v1, b1), (v2, b2)) => assert(b1 <= b2, s"$v1->$b1, $v2->$b2")
      case _ =>
    }
  }
}
