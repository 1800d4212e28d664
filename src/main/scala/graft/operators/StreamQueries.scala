package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.streaming.Windows
import graft.views.Views

/** Windowed-aggregation + incremental-view pack (SURVEY §2.9/§2.10)
  * over the events table. The window builders are mode-agnostic —
  * the same operators run under Structured Streaming (see
  * StreamingSpec for the readStream/foreachBatch forms); here they
  * run in batch so the DuckDB oracle can value-check the semantics.
  */
object StreamQueries {

  private def aggs = Windows.standardAggs(col("value"), col("user_id"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T6: daily tumbling windows per event type.
    "t6_tumbling" -> ((s, dir) => {
      Windows.tumbling(Tables.events(s, dir), "ts", "1 day",
        Seq("event_type"), aggs)
        .select("event_type", "window_start", "cnt", "sum_value", "avg_value",
          "min_value", "max_value", "distinct_users")
        .orderBy("event_type", "window_start")
    }),

    // T7: 2-day windows sliding by 1 day (each event in 2 windows —
    // real sliding semantics; the reference's slide is a no-op bug we
    // do NOT replicate).
    "t7_sliding" -> ((s, dir) => {
      Windows.sliding(Tables.events(s, dir), "ts", "2 days", "1 day",
        Seq("event_type"), aggs)
        .select("event_type", "window_start", "cnt", "sum_value", "avg_value",
          "min_value", "max_value", "distinct_users")
        .orderBy("event_type", "window_start")
    }),

    // T8: 8-hour-gap session windows per user.
    "t8_session" -> ((s, dir) => {
      Windows.session(Tables.events(s, dir), "ts", "8 hours",
        Seq("user_id"),
        Seq(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value")))
        .select("user_id", "session_start", "cnt", "sum_value")
        .orderBy("user_id", "session_start")
    }),

    // T9 (batch form): count windows of 5 events per user.
    "t9_count_window" -> ((s, dir) => {
      Windows.countWindowBatch(Tables.events(s, dir), "ts", "event_id",
        "user_id", 5,
        Seq(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value")))
        .select("user_id", "bucket", "cnt", "sum_value")
        .orderBy("user_id", "bucket")
    }),

    // T10: global (never-closing) running aggregate per event type.
    "t10_global_agg" -> ((s, dir) => {
      Windows.global(Tables.events(s, dir), Seq("event_type"), aggs)
        .orderBy("event_type")
    }),

    // V5: incremental view maintenance parity — bootstrap an agg view
    // from events before T1, apply an ADD batch (T1..T2) and a REMOVE
    // batch (retention deletion of user_id%10==0 rows from the
    // bootstrap span) through the delta-merge path, exact min/max
    // recompute for touched groups included. The oracle recomputes
    // the same final state directly — incremental == batch.
    // V5c: incremental maintenance of a registered GQL MATCH-pattern
    // view — (Customer)-[:located_in]->(Nation) maintained through
    // two mutation rounds (vertex removal with edge cascade, fresh
    // vertex + edge, vertex re-add, explicit edge removal) purely
    // from the change feed via the composed signed Δ(V⋈E⋈V) rule:
    // the MATCH itself never re-runs, refresh cost scales with the
    // change window. Oracle reproduces the end-state membership.
    "v6_pattern_view" -> ((s, dir) => {
      import graft.graph.GraphStore
      import graft.model.PropValue
      val base = GraphStore.fromTpch(s, dir)
      val noProps = lit(null).cast(PropValue.mapType)
      val newCust = GraphStore.CustomerOff + 900000L
      // round 1: remove nations 0-4 (cascading their located_in
      // edges), add a brand-new customer with an edge into nation 7
      val m1 = base.removeVertices(
          base.vertices.filter(col("label") === "Nation" &&
            col("id") < GraphStore.NationOff + 5L).select("id"))
        .addVertices(s.range(1).select(lit(newCust).as("id"),
          lit("Customer").as("label"),
          map(lit("name"), PropValue.ofString(lit("Graft Test"))).as("props")))
        .addEdges(s.range(1).select(lit(newCust).as("src"),
          lit(GraphStore.NationOff + 7L).as("dst"),
          lit("located_in").as("label"), noProps.as("props")))
        .truncated().truncatedEdges()
      val cat = new Views.ViewCatalog(s,
        graft.Scratch.dir("graft_pv").toString)
      Views.refreshPatternView(cat, "cust_nation", base, m1,
        "Customer", "located_in", "Nation")
      // round 2: resurrect nation 2 (its cascaded edges stay gone),
      // wire customers 1-5 into it, drop customer 1's original edge
      val m2 = m1.addVertices(s.range(1).select(
          lit(GraphStore.NationOff + 2L).as("id"), lit("Nation").as("label"),
          map(lit("name"), PropValue.ofString(lit("REBORN"))).as("props")))
        .addEdges(s.range(1, 6).select(
          (col("id") + GraphStore.CustomerOff).as("src"),
          lit(GraphStore.NationOff + 2L).as("dst"),
          lit("located_in").as("label"), noProps.as("props")))
        .removeEdges(m1.edges.filter(
          col("src") === GraphStore.CustomerOff + 1L &&
            col("label") === "located_in")
          .select("src", "dst", "label"))
        .truncated().truncatedEdges()
      Views.refreshPatternView(cat, "cust_nation", m1, m2,
        "Customer", "located_in", "Nation")
        .select((col("src") - GraphStore.CustomerOff).as("custkey"),
          (col("dst") - GraphStore.NationOff).as("nationkey"))
        .orderBy("custkey", "nationkey")
    }),

    // V5c, predicated form: the pattern carries a vertex PROPERTY
    // predicate — (Customer {mktsegment: "BUILDING"})-[:located_in]->
    // (Nation) — and pure prop updates flip membership in and out of
    // the maintained view incrementally (no vertex/edge op at all in
    // round 1; round 2's REPLACE update drops the key, so the
    // predicate goes null → false and the row leaves).
    "v6_pattern_view_pred" -> ((s, dir) => {
      import graft.graph.GraphStore
      import graft.model.PropValue
      val base = GraphStore.fromTpch(s, dir)
      val pred = Some(
        PropValue.compare(col("props")("mktsegment"), "BUILDING", "="))
      def seg(v: String) =
        map(lit("mktsegment"), PropValue.ofString(lit(v)))
      val m1 = base.updateVertexProps(
        s.range(1, 6).select((col("id") + GraphStore.CustomerOff).as("id"),
            seg("GRAFT").as("props"))
          .unionByName(s.range(6, 11)
            .select((col("id") + GraphStore.CustomerOff).as("id"),
              seg("BUILDING").as("props"))))
        .truncated()
      val cat = new Views.ViewCatalog(s,
        graft.Scratch.dir("graft_pvs").toString)
      Views.refreshPatternView(cat, "seg", base, m1,
        "Customer", "located_in", "Nation", srcPred = pred)
      val m2 = m1.updateVertexProps(s.range(6, 7)
          .select((col("id") + GraphStore.CustomerOff).as("id"),
            map(lit("note"), PropValue.ofString(lit("resegmenting")))
              .as("props")))
        .truncated()
      Views.refreshPatternView(cat, "seg", m1, m2,
        "Customer", "located_in", "Nation", srcPred = pred)
        .select((col("src") - GraphStore.CustomerOff).as("custkey"),
          (col("dst") - GraphStore.NationOff).as("nationkey"))
        .orderBy("custkey", "nationkey")
    }),

    // V5c, k-hop form: a registered TWO-hop chain view
    // (Customer)-[:located_in]->(Nation)-[:in_region]->(Region)
    // maintained through two windows — middle/tail-layer removals
    // with cascades, a fresh tail vertex fanned in from five nations,
    // then a head-adjacent edge sweep — by folding the signed delta
    // rule once per hop. Oracle reproduces end-state membership.
    "v6_pattern_view_2hop" -> ((s, dir) => {
      import graft.graph.GraphStore
      import graft.model.PropValue
      val base = GraphStore.fromTpch(s, dir)
      val noProps = lit(null).cast(PropValue.mapType)
      val labels = Seq("Customer", "Nation", "Region")
      val elabels = Seq("located_in", "in_region")
      // round 1: remove regions 0-1 (cascading their in_region
      // edges), add region 99 and wire nations 0-4 into it
      val m1 = base.removeVertices(
          base.vertices.filter(col("label") === "Region" &&
            col("id") < GraphStore.RegionOff + 2L).select("id"))
        .addVertices(s.range(1).select(
          lit(GraphStore.RegionOff + 99L).as("id"), lit("Region").as("label"),
          map(lit("name"), PropValue.ofString(lit("NEWWORLD"))).as("props")))
        .addEdges(s.range(5).select(
          (col("id") + GraphStore.NationOff).as("src"),
          lit(GraphStore.RegionOff + 99L).as("dst"),
          lit("in_region").as("label"), noProps.as("props")))
        .truncated().truncatedEdges()
      val cat = new Views.ViewCatalog(s,
        graft.Scratch.dir("graft_pv2").toString)
      Views.refreshPatternChainView(cat, "cnr", base, m1, labels, elabels)
      // round 2: sweep nation 0's region links (original + the new one)
      val m2 = m1.removeEdges(m1.edges.filter(
          col("src") === GraphStore.NationOff + 0L &&
            col("label") === "in_region")
          .select("src", "dst", "label"))
        .truncatedEdges()
      Views.refreshPatternChainView(cat, "cnr", m1, m2, labels, elabels)
        .select((col("c0") - GraphStore.CustomerOff).as("custkey"),
          (col("c1") - GraphStore.NationOff).as("nationkey"),
          (col("c2") - GraphStore.RegionOff).as("regionkey"))
        .orderBy("custkey", "nationkey", "regionkey")
    }),

    // V5d: var-length pattern view — a GQL-registered
    // (a:Nation)-[:feeds*2..3]->(b:Nation) view maintained by walk
    // COUNTING (per-length chain deltas summed into one multiset
    // state; a pair leaves only when its LAST supporting walk dies).
    // The feeds DAG (nation i → i+1, i+2) is built by mutation, so
    // the view bootstraps EMPTY and every pair it ever serves arrived
    // through the delta path; round 2 removes a mid-chain vertex
    // (cascading its edges out of every walk through it) and one edge
    // with alternate walks around it. Oracle recomputes the end-state
    // reachable pairs by unrolled self-joins.
    "v6_pattern_view_varlen" -> ((s, dir) => {
      import graft.graph.GraphStore
      import graft.model.PropValue
      val base = GraphStore.fromTpch(s, dir)
      val noProps = lit(null).cast(PropValue.mapType)
      // TPC-H nation is fixed at 25 rows at every SF
      val m1 = base.addEdges(s.range(0, 25)
          .select(col("id"), explode(array(lit(1L), lit(2L))).as("step"))
          .filter(col("id") + col("step") <= 24L)
          .select((col("id") + GraphStore.NationOff).as("src"),
            (col("id") + col("step") + GraphStore.NationOff).as("dst"),
            lit("feeds").as("label"), noProps.as("props")))
        .truncatedEdges()
      val cat = new Views.ViewCatalog(s,
        graft.Scratch.dir("graft_pvv").toString)
      graft.gql.GqlViews.register(cat, "nation_reach",
        "MATCH (a:Nation)-[:feeds*2..3]->(b:Nation)")
      graft.gql.GqlViews.refresh(cat, "nation_reach", base, m1)
      // round 2: nation 10 leaves (cascade kills every walk through
      // it); edge 5→6 removed (5 still reaches 6's successors via 7)
      val m2 = m1.removeVertices(s.range(1)
          .select(lit(GraphStore.NationOff + 10L).as("id")))
        .removeEdges(s.range(1).select(
          lit(GraphStore.NationOff + 5L).as("src"),
          lit(GraphStore.NationOff + 6L).as("dst"),
          lit("feeds").as("label")))
        .truncated().truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "nation_reach", m1, m2)
        .select((col("src") - GraphStore.NationOff).as("src_nation"),
          (col("dst") - GraphStore.NationOff).as("dst_nation"))
        .orderBy("src_nation", "dst_nation")
    }),

    // V5c, UNDIRECTED form: (a:Nation)-[:peer]-(b:Nation) maintained
    // as the symmetrized BAG E ∪ Eᵀ (the executor's orientation-union
    // semantics: a reciprocal pair counts twice, a self-loop matches
    // (v, v) twice). The peer graph is built by mutation so the view
    // bootstraps EMPTY and every row arrived through the symmetrized
    // delta path; round 2 removes ONE orientation of the reciprocal
    // pair (the pair must survive at multiplicity 1 per direction),
    // cascade-removes a vertex, and adds a second self-loop. Oracle
    // reproduces the end-state bag by unioning both orientations.
    "v6_pattern_view_undirected" -> ((s, dir) => {
      import graft.graph.GraphStore
      import graft.model.PropValue
      val base = GraphStore.fromTpch(s, dir)
      val noProps = lit(null).cast(PropValue.mapType)
      val cat = new Views.ViewCatalog(s,
        graft.Scratch.dir("graft_pvu").toString)
      graft.gql.GqlViews.register(cat, "nation_peer",
        "MATCH (a:Nation)-[:peer]-(b:Nation)")
      // round 1: chain i→i+1, a reciprocal 4→3 (making 3⇄4), and a
      // self-loop 20→20 — all arriving through the delta fold
      val m1 = base.addEdges(s.range(0, 24)
          .select((col("id") + GraphStore.NationOff).as("src"),
            (col("id") + 1L + GraphStore.NationOff).as("dst"),
            lit("peer").as("label"), noProps.as("props"))
          .unionByName(s.range(1).select(
            lit(GraphStore.NationOff + 4L).as("src"),
            lit(GraphStore.NationOff + 3L).as("dst"),
            lit("peer").as("label"), noProps.as("props")))
          .unionByName(s.range(1).select(
            lit(GraphStore.NationOff + 20L).as("src"),
            lit(GraphStore.NationOff + 20L).as("dst"),
            lit("peer").as("label"), noProps.as("props"))))
        .truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "nation_peer", base, m1)
      // round 2: retract ONE orientation of the reciprocal pair,
      // cascade-remove nation 10, add a second self-loop 22→22
      val m2 = m1.removeEdges(s.range(1).select(
          lit(GraphStore.NationOff + 4L).as("src"),
          lit(GraphStore.NationOff + 3L).as("dst"),
          lit("peer").as("label")))
        .removeVertices(s.range(1)
          .select(lit(GraphStore.NationOff + 10L).as("id")))
        .addEdges(s.range(1).select(
          lit(GraphStore.NationOff + 22L).as("src"),
          lit(GraphStore.NationOff + 22L).as("dst"),
          lit("peer").as("label"), noProps.as("props")))
        .truncated().truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "nation_peer", m1, m2)
        .select((col("src") - GraphStore.NationOff).as("src_nation"),
          (col("dst") - GraphStore.NationOff).as("dst_nation"))
        .orderBy("src_nation", "dst_nation")
    }),

    // V5g: CROSS-VARIABLE WHERE view — (c:Customer)-[:placed]->
    // (o:Order) WHERE o.totalprice > c.acctbal * 40.0, the predicate
    // class per-position props blocks cannot carry, maintained by
    // tuple-level net compare over the touched-edge set. Window 1 is
    // PURE prop flips (no membership op at all — repriced customers
    // swing whole order books in and out); window 2 cascades a
    // customer out and wires a fresh order in. Oracle recomputes the
    // end state with the same double arithmetic.
    "v6_pattern_view_where" -> ((s, dir) => {
      import graft.graph.GraphStore
      import graft.model.PropValue
      val base = GraphStore.fromTpch(s, dir)
      val cOff = GraphStore.CustomerOff
      val oOff = GraphStore.OrderOff
      val cat = new Views.ViewCatalog(s,
        graft.Scratch.dir("graft_pvw").toString)
      graft.gql.GqlViews.register(cat, "big_orders",
        "MATCH (c:Customer)-[:placed]->(o:Order) " +
          "WHERE o.totalprice > c.acctbal * 40.0")
      def bal(v: Double) =
        map(lit("acctbal"), PropValue.ofFloat(lit(v)))
      val m1 = base.updateVertexProps(
          s.range(1, 4).select((col("id") + cOff).as("id"),
            bal(100000.0).as("props"))
          .unionByName(s.range(4, 7).select((col("id") + cOff).as("id"),
            bal(-100.0).as("props"))))
        .truncated()
      graft.gql.GqlViews.refresh(cat, "big_orders", base, m1)
      val m2 = m1.removeVertices(s.range(1)
          .select(lit(cOff + 7L).as("id")))
        .addVertices(s.range(1).select(lit(oOff + 900001L).as("id"),
          lit("Order").as("label"),
          map(lit("totalprice"), PropValue.ofFloat(lit(999999.0)))
            .as("props")))
        .addEdges(s.range(1).select(lit(cOff + 8L).as("src"),
          lit(oOff + 900001L).as("dst"), lit("placed").as("label"),
          lit(null).cast(PropValue.mapType).as("props")))
        .truncated().truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "big_orders", m1, m2)
        .select((col("src") - cOff).as("custkey"),
          (col("dst") - oOff).as("orderkey"))
        .orderBy("custkey", "orderkey")
    }),

    // V5h: CHAIN WHERE view (r11) — adjacent-scoped conjuncts over a
    // two-hop chain: (c:Customer)-[:located_in]->(n:Nation)
    // -[:in_region]->(r:Region) WHERE c.acctbal > n.gdp AND
    // n.gdp > r.cutoff. Each conjunct predicates ONE hop's relation
    // (refreshWhereChainView); the interior variable n sits in both.
    // The gdp/cutoff props don't exist at bootstrap (null compare →
    // false → the view bootstraps EMPTY), so window 1 — planting
    // them — is a pure prop-flip delta that populates the whole
    // view; window 2 repricing flips BOTH hops through the shared
    // interior variable, plus a vertex cascade. Oracle recomputes
    // the end state with the same CASE-derived constants.
    "v6_pattern_view_where_chain" -> ((s, dir) => {
      import graft.graph.GraphStore
      import graft.model.PropValue
      val base = GraphStore.fromTpch(s, dir)
      val cOff = GraphStore.CustomerOff
      val nOff = GraphStore.NationOff
      val rOff = GraphStore.RegionOff
      val cat = new Views.ViewCatalog(s,
        graft.Scratch.dir("graft_pvwc").toString)
      graft.gql.GqlViews.register(cat, "rich_in_poor",
        "MATCH (c:Customer)-[:located_in]->(n:Nation)" +
          "-[:in_region]->(r:Region) " +
          "WHERE c.acctbal > n.gdp AND n.gdp > r.cutoff")
      // window 1: plant gdp on all 25 nations and cutoff on all 5
      // regions — every view row arrives through the prop-flip path
      val m1 = base.updateVertexProps(
          s.range(0, 25).select((col("id") + nOff).as("id"),
            map(lit("gdp"),
              PropValue.ofFloat(col("id") * 400.0 - 3000.0)).as("props"))
          .unionByName(s.range(0, 5).select((col("id") + rOff).as("id"),
            map(lit("cutoff"),
              PropValue.ofFloat(col("id") * 1000.0)).as("props"))))
        .truncated()
      graft.gql.GqlViews.refresh(cat, "rich_in_poor", base, m1)
      // window 2: nations 0-4 spike to gdp 8000 (kills hop-0 rows,
      // passes hop-1 everywhere), customers 1-5 reprice to 9500,
      // region 3's cutoff drops to -500, nation 10 cascades out
      val m2 = m1.updateVertexProps(
          s.range(0, 5).select((col("id") + nOff).as("id"),
            map(lit("gdp"), PropValue.ofFloat(lit(8000.0))).as("props"))
          .unionByName(s.range(1, 6).select((col("id") + cOff).as("id"),
            map(lit("acctbal"),
              PropValue.ofFloat(lit(9500.0))).as("props")))
          .unionByName(s.range(1).select(lit(rOff + 3L).as("id"),
            map(lit("cutoff"),
              PropValue.ofFloat(lit(-500.0))).as("props"))))
        .removeVertices(s.range(1).select(lit(nOff + 10L).as("id")))
        .truncated().truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "rich_in_poor", m1, m2)
        .select((col("c0") - cOff).as("custkey"),
          (col("c1") - nOff).as("nationkey"),
          (col("c2") - rOff).as("regionkey"))
        .orderBy("custkey", "nationkey", "regionkey")
    }),

    // V5f: COMPOSED chain view — a bounded var-length segment folded
    // through a further hop: (a:Nation)-[:feeds*1..2]->(b:Nation)
    // -[:in_region]->(c:Region). The feeds DAG arrives by mutation
    // (bootstrap is empty: every row came through the sub-state +
    // chain delta path); round 2 mixes a VL cascade (vertex 10 dies,
    // killing walks AND its own in_region tail edge — the ΔΔ cross
    // term), a VL edge removal with alternate walks, and tail-hop
    // churn (nation 3 loses its region link). Oracle recomputes the
    // end state by unrolled self-joins + the region join.
    "v6_pattern_view_composed" -> ((s, dir) => {
      import graft.graph.GraphStore
      import graft.model.PropValue
      val base = GraphStore.fromTpch(s, dir)
      val noProps = lit(null).cast(PropValue.mapType)
      val nOff = GraphStore.NationOff
      val cat = new Views.ViewCatalog(s,
        graft.Scratch.dir("graft_pvc").toString)
      graft.gql.GqlViews.register(cat, "feeds_region",
        "MATCH (a:Nation)-[:feeds*1..2]->(b:Nation)-[:in_region]->(c:Region)")
      val m1 = base.addEdges(s.range(0, 25)
          .select(col("id"), explode(array(lit(1L), lit(2L))).as("step"))
          .filter(col("id") + col("step") <= 24L)
          .select((col("id") + nOff).as("src"),
            (col("id") + col("step") + nOff).as("dst"),
            lit("feeds").as("label"), noProps.as("props")))
        .truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "feeds_region", base, m1)
      val m2 = m1.removeVertices(s.range(1)
          .select(lit(nOff + 10L).as("id")))
        .removeEdges(s.range(1).select(lit(nOff + 5L).as("src"),
          lit(nOff + 6L).as("dst"), lit("feeds").as("label")))
        .removeEdges(m1.edges.filter(col("src") === nOff + 3L &&
            col("label") === "in_region")
          .select("src", "dst", "label"))
        .truncated().truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "feeds_region", m1, m2)
        .select((col("c0") - nOff).as("src_nation"),
          (col("c1") - nOff).as("mid_nation"),
          (col("c2") - GraphStore.RegionOff).as("regionkey"))
        .orderBy("src_nation", "mid_nation", "regionkey")
    }),

    // V5e: UNBOUNDED reachability view — (a:Nation)-[:flows*1..]->
    // (b:Nation) maintained as a transitive closure: semi-naive
    // insertion (window 1 builds chains, a branch, and a 2-cycle from
    // nothing), then a window mixing a bypass INSERT with a DELETE
    // whose straddling pairs must re-derive through DRed (the bypass
    // keeps them alive) and a vertex cascade that truly kills others.
    // Oracle recomputes the end-state closure with WITH RECURSIVE.
    "v6_pattern_view_unbounded" -> ((s, dir) => {
      import graft.graph.GraphStore
      import graft.model.PropValue
      val base = GraphStore.fromTpch(s, dir)
      val noProps = lit(null).cast(PropValue.mapType)
      val off = GraphStore.NationOff
      def edgeFrame(es: Seq[(Long, Long)]) = {
        import s.implicits._
        es.map { case (a, b) => (a + off, b + off, "flows") }
          .toDF("src", "dst", "label").withColumn("props", noProps)
      }
      val cat = new Views.ViewCatalog(s,
        graft.Scratch.dir("graft_pvtc").toString)
      graft.gql.GqlViews.register(cat, "nation_flows",
        "MATCH (a:Nation)-[:flows*1..]->(b:Nation)")
      // window 1: chain 0→1→…→15, branch 3→20→21, cycle 22⇄23 fed
      // from 5 — all via the insertion closure (bootstrap is empty)
      val m1 = base.addEdges(edgeFrame(
          (0L to 14L).map(i => (i, i + 1)) ++
            Seq((3L, 20L), (20L, 21L), (5L, 22L), (22L, 23L), (23L, 22L))))
        .truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "nation_flows", base, m1)
      // window 2: bypass 2→4 added, then vertex 3 removed (cascading
      // 2→3, 3→4, 3→20) and edge 7→8 removed — pairs through the
      // bypass re-derive, pairs through 7→8 or into 20/21 die
      val m2 = m1.addEdges(edgeFrame(Seq((2L, 4L))))
        .removeVertices(s.range(1).select(lit(off + 3L).as("id")))
        .removeEdges(edgeFrame(Seq((7L, 8L))).select("src", "dst", "label"))
        .truncated().truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "nation_flows", m1, m2)
        .select((col("src") - off).as("src_nation"),
          (col("dst") - off).as("dst_nation"))
        .orderBy("src_nation", "dst_nation")
    }),

    // V5m: UNDIRECTED unbounded view (r12) — incremental connected
    // components: the state is O(V) min-id labels, pairs are a
    // serve-time comp self-join. Window 1 builds a mixed-orientation
    // chain {0..5}, a triangle {6,7,8}, a self-loop {10}, a pair
    // {12,13}, and a star {15,16,17} (all via the merge path —
    // bootstrap is empty). Window 2 exercises every incremental
    // shape at once: a SPLIT (remove 3-2 cuts the chain), a MERGE
    // (add 5-6 joins {3,4,5} to the triangle), REDUNDANCY SURVIVAL
    // (add 12-14-13 then remove 12-13 — the component re-derives
    // whole), and a VERTEX CASCADE (remove 15 — 16/17 lose their
    // only edges and leave the state). Oracle recomputes the
    // end-state closure over the symmetrized edge set.
    "v6_pattern_view_undirected_unbounded" -> ((s, dir) => {
      import graft.graph.GraphStore
      import graft.model.PropValue
      val base = GraphStore.fromTpch(s, dir)
      val noProps = lit(null).cast(PropValue.mapType)
      val off = GraphStore.NationOff
      def edgeFrame(es: Seq[(Long, Long)]) = {
        import s.implicits._
        es.map { case (a, b) => (a + off, b + off, "peers") }
          .toDF("src", "dst", "label").withColumn("props", noProps)
      }
      val cat = new Views.ViewCatalog(s,
        graft.Scratch.dir("graft_pvcc").toString)
      graft.gql.GqlViews.register(cat, "nation_peers",
        "MATCH (a:Nation)-[:peers*1..]-(b:Nation)")
      val m1 = base.addEdges(edgeFrame(Seq(
          (1L, 0L), (1L, 2L), (3L, 2L), (3L, 4L), (5L, 4L),
          (6L, 7L), (7L, 8L), (8L, 6L), (10L, 10L), (12L, 13L),
          (15L, 16L), (15L, 17L))))
        .truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "nation_peers", base, m1)
      val m2 = m1.addEdges(edgeFrame(Seq((5L, 6L), (12L, 14L), (14L, 13L))))
        .removeEdges(edgeFrame(Seq((3L, 2L), (12L, 13L)))
          .select("src", "dst", "label"))
        .removeVertices(s.range(1).select(lit(off + 15L).as("id")))
        .truncated().truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "nation_peers", m1, m2)
        .select((col("src") - off).as("src_nation"),
          (col("dst") - off).as("dst_nation"))
        .orderBy("src_nation", "dst_nation")
    }),

    // V5i: COMPOSED chain with an UNBOUNDED segment (r11) — the
    // closure sub-state folds through a further hop:
    // (a:Nation)-[:flows*1..]->(b:Nation)-[:in_region]->(c:Region).
    // The flows graph arrives by mutation (window 1: chain, branch,
    // cycle — all through the semi-naive insertion sub-fold + chain
    // fold); window 2 mixes a bypass INSERT with DRed deletions
    // (straddling pairs re-derive through the bypass), a vertex
    // cascade (kills closure rows AND the vertex's own region link),
    // and explicit tail-hop churn (nation 5 keeps its closure rows
    // as src but loses its mid-position region link). Oracle:
    // WITH RECURSIVE closure joined to surviving region links.
    "v6_pattern_view_composed_unbounded" -> ((s, dir) => {
      import graft.graph.GraphStore
      import graft.model.PropValue
      val base = GraphStore.fromTpch(s, dir)
      val noProps = lit(null).cast(PropValue.mapType)
      val off = GraphStore.NationOff
      def edgeFrame(es: Seq[(Long, Long)]) = {
        import s.implicits._
        es.map { case (a, b) => (a + off, b + off, "flows") }
          .toDF("src", "dst", "label").withColumn("props", noProps)
      }
      val cat = new Views.ViewCatalog(s,
        graft.Scratch.dir("graft_pvcu").toString)
      graft.gql.GqlViews.register(cat, "flows_region",
        "MATCH (a:Nation)-[:flows*1..]->(b:Nation)" +
          "-[:in_region]->(c:Region)")
      val m1 = base.addEdges(edgeFrame(
          (0L to 14L).map(i => (i, i + 1)) ++
            Seq((3L, 20L), (20L, 21L), (5L, 22L), (22L, 23L), (23L, 22L))))
        .truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "flows_region", base, m1)
      val m2 = m1.addEdges(edgeFrame(Seq((2L, 4L))))
        .removeVertices(s.range(1).select(lit(off + 3L).as("id")))
        .removeEdges(edgeFrame(Seq((7L, 8L))).select("src", "dst", "label"))
        .removeEdges(m1.edges.filter(col("src") === off + 5L &&
            col("label") === "in_region")
          .select("src", "dst", "label"))
        .truncated().truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "flows_region", m1, m2)
        .select((col("c0") - off).as("src_nation"),
          (col("c1") - off).as("mid_nation"),
          (col("c2") - GraphStore.RegionOff).as("regionkey"))
        .orderBy("src_nation", "mid_nation", "regionkey")
    }),

    // V5k: *m.. COMPOSED with a further hop (r11) — the lower-bounded
    // sub-state (walk x closure, name!lb<j>) feeding the chain fold
    // like any other segment relation. Same flows windows as
    // v6_pattern_view_composed_unbounded incl. the explicit tail-hop
    // churn (nation 5 keeps closure rows but loses its region link).
    // Bench note: this is the machinery-densest query in the suite
    // (closure fold + walk states + composition + chain prefix
    // states, twice) — on a 25-nation fixture its wall-clock is
    // driver job count, not data; the scale evidence is
    // the view-scale probe's shuffle columns (OPTIMIZATION_r13.md,
    // Retired diagnostics), not this number.
    "v6_pattern_view_composed_lower" -> ((s, dir) => {
      import graft.graph.GraphStore
      import graft.model.PropValue
      val base = GraphStore.fromTpch(s, dir)
      val noProps = lit(null).cast(PropValue.mapType)
      val off = GraphStore.NationOff
      def edgeFrame(es: Seq[(Long, Long)]) = {
        import s.implicits._
        es.map { case (a, b) => (a + off, b + off, "flows") }
          .toDF("src", "dst", "label").withColumn("props", noProps)
      }
      val cat = new Views.ViewCatalog(s,
        graft.Scratch.dir("graft_pvcl").toString)
      graft.gql.GqlViews.register(cat, "far_region",
        "MATCH (a:Nation)-[:flows*2..]->(b:Nation)" +
          "-[:in_region]->(c:Region)")
      val m1 = base.addEdges(edgeFrame(
          (0L to 14L).map(i => (i, i + 1)) ++
            Seq((3L, 20L), (20L, 21L), (5L, 22L), (22L, 23L), (23L, 22L))))
        .truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "far_region", base, m1)
      val m2 = m1.addEdges(edgeFrame(Seq((2L, 4L))))
        .removeVertices(s.range(1).select(lit(off + 3L).as("id")))
        .removeEdges(edgeFrame(Seq((7L, 8L))).select("src", "dst", "label"))
        .removeEdges(m1.edges.filter(col("src") === off + 5L &&
            col("label") === "in_region")
          .select("src", "dst", "label"))
        .truncated().truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "far_region", m1, m2)
        .select((col("c0") - off).as("src_nation"),
          (col("c1") - off).as("mid_nation"),
          (col("c2") - GraphStore.RegionOff).as("regionkey"))
        .orderBy("src_nation", "mid_nation", "regionkey")
    }),

    // V5j: LOWER-BOUNDED unbounded reach view (r11) — *2.. maintained
    // as the walk ⋈ closure composition (a length-≥2 walk is one edge
    // followed by reachability), the shape earlier rounds left under
    // a remedy. Same flows fixture and windows as
    // v6_pattern_view_unbounded, so the closure sub-state exercises
    // semi-naive insertion AND DRed with a straddle-witness bypass,
    // while the walk factor rides the edge deltas. Oracle: edge set
    // joined to its own recursive closure, distinct pairs.
    "v6_pattern_view_lower_bounded" -> ((s, dir) => {
      import graft.graph.GraphStore
      import graft.model.PropValue
      val base = GraphStore.fromTpch(s, dir)
      val noProps = lit(null).cast(PropValue.mapType)
      val off = GraphStore.NationOff
      def edgeFrame(es: Seq[(Long, Long)]) = {
        import s.implicits._
        es.map { case (a, b) => (a + off, b + off, "flows") }
          .toDF("src", "dst", "label").withColumn("props", noProps)
      }
      val cat = new Views.ViewCatalog(s,
        graft.Scratch.dir("graft_pvlb").toString)
      graft.gql.GqlViews.register(cat, "far_flows",
        "MATCH (a:Nation)-[:flows*2..]->(b:Nation)")
      val m1 = base.addEdges(edgeFrame(
          (0L to 14L).map(i => (i, i + 1)) ++
            Seq((3L, 20L), (20L, 21L), (5L, 22L), (22L, 23L), (23L, 22L))))
        .truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "far_flows", base, m1)
      val m2 = m1.addEdges(edgeFrame(Seq((2L, 4L))))
        .removeVertices(s.range(1).select(lit(off + 3L).as("id")))
        .removeEdges(edgeFrame(Seq((7L, 8L))).select("src", "dst", "label"))
        .truncated().truncatedEdges()
      graft.gql.GqlViews.refresh(cat, "far_flows", m1, m2)
        .select((col("src") - off).as("src_nation"),
          (col("dst") - off).as("dst_nation"))
        .orderBy("src_nation", "dst_nation")
    }),

    "v5_incremental_view" -> ((s, dir) => {
      val t1 = lit(java.sql.Timestamp.valueOf("2024-01-11 00:00:00"))
      val t2 = lit(java.sql.Timestamp.valueOf("2024-01-21 00:00:00"))
      val ev = Tables.events(s, dir)
      val state0 = Views.initAggState(
        ev.filter(col("ts") < t1), Seq("event_type"))
      val adds = ev.filter(col("ts") >= t1 && col("ts") < t2)
        .select(lit("add").as("op"), col("event_type"), col("value"))
      val removes = ev.filter(col("ts") < t1 && col("user_id") % 10 === 0)
        .select(lit("remove").as("op"), col("event_type"), col("value"))
      val changes = adds.unionByName(removes)
      val finalBase = ev.filter(col("ts") < t2 &&
        !(col("ts") < t1 && col("user_id") % 10 === 0))
      val state1 = Views.mergeAggDelta(state0, changes, Seq("event_type"),
        base = Some(finalBase))
      Views.finalizeAgg(state1).orderBy("event_type")
    })
  )

  private val stdAggSql =
    """COUNT(*) AS cnt, ROUND(SUM(value), 4) AS sum_value,
       ROUND(CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) / (COUNT(*) * 100.0)
         + 1e-9, 4) AS avg_value,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value,
       COUNT(DISTINCT user_id) AS distinct_users"""

  val oracles: Map[String, String] = Map(
    // end-state membership of (Customer)-[:located_in]->(Nation):
    // original pairs survive unless their nation was removed (nk 0-4;
    // nation 2's re-add does NOT resurrect cascaded edges) or they
    // belong to customer 1 (its original edge is removed in round 2);
    // plus the fresh customer in nation 7 and customers 1-5 wired
    // into the reborn nation 2
    // end-state BUILDING-segment membership: customers 7-10 were
    // re-segmented in (6 entered then dropped the key in round 2,
    // 1-5 left for GRAFT); everyone else is in iff originally
    // BUILDING
    "v6_pattern_view_pred" ->
      """SELECT CAST(c_custkey AS BIGINT) AS custkey,
                CAST(c_nationkey AS BIGINT) AS nationkey
         FROM customer
         WHERE (c_custkey BETWEEN 7 AND 10)
            OR (c_mktsegment = 'BUILDING'
                AND c_custkey NOT BETWEEN 1 AND 10)
         ORDER BY custkey, nationkey""",
    // end-state membership of the two-hop chain: a nation keeps its
    // original region link unless the region was removed (rk 0-1) or
    // the nation is 0 (its links are swept in round 2); nations 1-4
    // gain region 99; customers fan in via their nation
    "v6_pattern_view_2hop" ->
      """WITH nr AS (
           SELECT CAST(n_nationkey AS BIGINT) AS nk,
                  CAST(n_regionkey AS BIGINT) AS rk
           FROM nation WHERE n_regionkey >= 2 AND n_nationkey <> 0
           UNION ALL
           SELECT CAST(i AS BIGINT), CAST(99 AS BIGINT)
           FROM range(0, 5) t(i) WHERE i <> 0)
         SELECT CAST(c_custkey AS BIGINT) AS custkey,
                CAST(c_nationkey AS BIGINT) AS nationkey,
                nr.rk AS regionkey
         FROM customer JOIN nr ON c_nationkey = nr.nk
         ORDER BY custkey, nationkey, regionkey""",
    // end-state reachable pairs of the feeds DAG within 2-3 hops:
    // edges i→i+1/i+2 minus everything touching nation 10 and minus
    // 5→6, composed by unrolled self-joins (exactly the walk
    // semantics the counting state maintains)
    "v6_pattern_view_varlen" ->
      """WITH e AS (
           SELECT CAST(i AS BIGINT) AS s, CAST(i + st AS BIGINT) AS d
           FROM range(0, 25) t(i) CROSS JOIN (VALUES (1), (2)) v(st)
           WHERE i + st <= 24
             AND i <> 10 AND i + st <> 10
             AND NOT (i = 5 AND st = 1)),
         h2 AS (SELECT a.s, b.d FROM e a JOIN e b ON a.d = b.s),
         h3 AS (SELECT a.s, b.d FROM h2 a JOIN e b ON a.d = b.s)
         SELECT DISTINCT s AS src_nation, d AS dst_nation
         FROM (SELECT * FROM h2 UNION ALL SELECT * FROM h3)
         ORDER BY src_nation, dst_nation""",
    // end-state BAG of the undirected peer view: stored edges are the
    // chain minus everything touching nation 10 (9→10 and 10→11 died
    // in the cascade) plus the two self-loops (the reciprocal 4→3 was
    // retracted); the undirected view is each stored edge in BOTH
    // orientations — self-loops therefore appear twice, exactly the
    // executor's orientation-union multiplicity
    "v6_pattern_view_undirected" ->
      """WITH e AS (
           SELECT CAST(i AS BIGINT) AS s, CAST(i + 1 AS BIGINT) AS d
           FROM range(0, 24) t(i) WHERE i <> 10 AND i + 1 <> 10
           UNION ALL SELECT 20, 20
           UNION ALL SELECT 22, 22)
         SELECT src_nation, dst_nation FROM
           (SELECT s AS src_nation, d AS dst_nation FROM e
            UNION ALL
            SELECT d AS src_nation, s AS dst_nation FROM e)
         ORDER BY src_nation, dst_nation""",
    // end state of the WHERE view: repriced balances for customers
    // 1-6, customer 7 gone (cascade), the fresh 999999.0 order on 8;
    // both sides compare in IEEE doubles so the strict > agrees
    "v6_pattern_view_where" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
               CASE WHEN c_custkey BETWEEN 1 AND 3 THEN 100000.0
                    WHEN c_custkey BETWEEN 4 AND 6 THEN -100.0
                    ELSE CAST(c_acctbal AS DOUBLE) END AS bal
             FROM customer WHERE c_custkey <> 7),
           o AS (SELECT CAST(o_custkey AS BIGINT) AS ck,
                        CAST(o_orderkey AS BIGINT) AS ok,
                        CAST(o_totalprice AS DOUBLE) AS tp
                 FROM orders
                 UNION ALL SELECT 8, 900001, 999999.0)
         SELECT o.ck AS custkey, o.ok AS orderkey
         FROM o JOIN c ON o.ck = c.ck
         WHERE o.tp > c.bal * 40.0
         ORDER BY custkey, orderkey""",
    // end state of the chain WHERE view: CASE-derived gdp/cutoff/bal
    // constants mirror window 2's repricing exactly (comparisons
    // only — no emitted floats, so the integer-key output is
    // hash-stable); nation 10 is gone with its customers
    "v6_pattern_view_where_chain" ->
      """WITH n AS (
           SELECT CAST(n_nationkey AS BIGINT) AS nk,
                  CAST(n_regionkey AS BIGINT) AS rk,
                  CASE WHEN n_nationkey BETWEEN 0 AND 4 THEN 8000.0
                       ELSE n_nationkey * 400.0 - 3000.0 END AS gdp
           FROM nation WHERE n_nationkey <> 10),
         r AS (
           SELECT CAST(r_regionkey AS BIGINT) AS rk,
                  CASE WHEN r_regionkey = 3 THEN -500.0
                       ELSE r_regionkey * 1000.0 END AS cutoff
           FROM region),
         c AS (
           SELECT CAST(c_custkey AS BIGINT) AS ck,
                  CAST(c_nationkey AS BIGINT) AS nk,
                  CASE WHEN c_custkey BETWEEN 1 AND 5 THEN 9500.0
                       ELSE CAST(c_acctbal AS DOUBLE) END AS bal
           FROM customer)
         SELECT c.ck AS custkey, n.nk AS nationkey, r.rk AS regionkey
         FROM c JOIN n ON c.nk = n.nk JOIN r ON n.rk = r.rk
         WHERE c.bal > n.gdp AND n.gdp > r.cutoff
         ORDER BY custkey, nationkey, regionkey""",
    // end-state of the composed view: distinct 1-2-hop feeds pairs
    // (edges minus everything touching nation 10 and minus 5→6)
    // joined to each mid-nation's surviving region link (10's died
    // with the vertex, 3's was removed explicitly)
    "v6_pattern_view_composed" ->
      """WITH e AS (
           SELECT CAST(i AS BIGINT) AS s, CAST(i + st AS BIGINT) AS d
           FROM range(0, 25) t(i) CROSS JOIN (VALUES (1), (2)) v(st)
           WHERE i + st <= 24
             AND i <> 10 AND i + st <> 10
             AND NOT (i = 5 AND st = 1)),
         w AS (SELECT s, d FROM e
               UNION
               SELECT a.s, b.d FROM e a JOIN e b ON a.d = b.s),
         nr AS (SELECT CAST(n_nationkey AS BIGINT) AS nk,
                       CAST(n_regionkey AS BIGINT) AS rk
                FROM nation WHERE n_nationkey NOT IN (3, 10))
         SELECT w.s AS src_nation, w.d AS mid_nation, nr.rk AS regionkey
         FROM w JOIN nr ON w.d = nr.nk
         ORDER BY src_nation, mid_nation, regionkey""",
    // end-state same-component pairs of the undirected peers graph:
    // surviving edges symmetrized, closed by a recursive CTE —
    // components {0,1,2}, {3..8}, {10}, {12,13,14}; self-pairs
    // included (every incident vertex reaches itself through any of
    // its edges)
    "v6_pattern_view_undirected_unbounded" ->
      """WITH RECURSIVE
           e0(s0, d0) AS (
             SELECT * FROM (VALUES (1, 0), (1, 2), (3, 4), (5, 4),
               (6, 7), (7, 8), (8, 6), (10, 10), (12, 14), (14, 13),
               (5, 6)) v(s0, d0)),
           e AS (
             SELECT CAST(s0 AS BIGINT) AS s, CAST(d0 AS BIGINT) AS d
             FROM e0
             UNION
             SELECT CAST(d0 AS BIGINT), CAST(s0 AS BIGINT) FROM e0),
           r(s, d) AS (
             SELECT s, d FROM e
             UNION
             SELECT r.s, e.d FROM r JOIN e ON r.d = e.s)
         SELECT s AS src_nation, d AS dst_nation FROM r
         ORDER BY src_nation, dst_nation""",
    // end-state closure of the flows graph: chain edges minus the
    // vertex-3 cascade (2→3, 3→4) and the removed 7→8, plus the 2→4
    // bypass, the 20→21 remnant (3→20 died with vertex 3), and the
    // 22⇄23 cycle fed from 5 — closed by a recursive CTE (UNION
    // dedup terminates the cycle; (22,22)/(23,23) self-pairs stay)
    "v6_pattern_view_unbounded" ->
      """WITH RECURSIVE
           e AS (
             SELECT CAST(i AS BIGINT) AS s, CAST(i + 1 AS BIGINT) AS d
             FROM range(0, 15) t(i) WHERE i NOT IN (2, 3, 7)
             UNION ALL SELECT 2, 4
             UNION ALL SELECT 20, 21
             UNION ALL SELECT 5, 22
             UNION ALL SELECT 22, 23
             UNION ALL SELECT 23, 22),
           r(s, d) AS (
             SELECT s, d FROM e
             UNION
             SELECT r.s, e.d FROM r JOIN e ON r.d = e.s)
         SELECT s AS src_nation, d AS dst_nation FROM r
         ORDER BY src_nation, dst_nation""",
    // end state of the composed-unbounded view: the same flows
    // closure as v6_pattern_view_unbounded, joined to each
    // mid-nation's surviving region link (3's died with the vertex,
    // 5's was removed explicitly — 5 still appears as src)
    "v6_pattern_view_composed_unbounded" ->
      """WITH RECURSIVE
           e AS (
             SELECT CAST(i AS BIGINT) AS s, CAST(i + 1 AS BIGINT) AS d
             FROM range(0, 15) t(i) WHERE i NOT IN (2, 3, 7)
             UNION ALL SELECT 2, 4
             UNION ALL SELECT 20, 21
             UNION ALL SELECT 5, 22
             UNION ALL SELECT 22, 23
             UNION ALL SELECT 23, 22),
           r(s, d) AS (
             SELECT s, d FROM e
             UNION
             SELECT r.s, e.d FROM r JOIN e ON r.d = e.s),
           nr AS (SELECT CAST(n_nationkey AS BIGINT) AS nk,
                         CAST(n_regionkey AS BIGINT) AS rk
                  FROM nation WHERE n_nationkey NOT IN (3, 5))
         SELECT r.s AS src_nation, r.d AS mid_nation, nr.rk AS regionkey
         FROM r JOIN nr ON r.d = nr.nk
         ORDER BY src_nation, mid_nation, regionkey""",
    // *2.. composed with the region hop: the lower-bounded pairs
    // (edge set joined to its own closure) joined to each
    // mid-nation's surviving region link
    "v6_pattern_view_composed_lower" ->
      """WITH RECURSIVE
           e AS (
             SELECT CAST(i AS BIGINT) AS s, CAST(i + 1 AS BIGINT) AS d
             FROM range(0, 15) t(i) WHERE i NOT IN (2, 3, 7)
             UNION ALL SELECT 2, 4
             UNION ALL SELECT 20, 21
             UNION ALL SELECT 5, 22
             UNION ALL SELECT 22, 23
             UNION ALL SELECT 23, 22),
           r(s, d) AS (
             SELECT s, d FROM e
             UNION
             SELECT r.s, e.d FROM r JOIN e ON r.d = e.s),
           lb AS (SELECT DISTINCT e.s, r.d FROM e JOIN r ON e.d = r.s),
           nr AS (SELECT CAST(n_nationkey AS BIGINT) AS nk,
                         CAST(n_regionkey AS BIGINT) AS rk
                  FROM nation WHERE n_nationkey NOT IN (3, 5))
         SELECT lb.s AS src_nation, lb.d AS mid_nation, nr.rk AS regionkey
         FROM lb JOIN nr ON lb.d = nr.nk
         ORDER BY src_nation, mid_nation, regionkey""",
    // *2.. over the same end-state flows graph: one edge followed by
    // reachability — the edge set joined to its own closure, distinct
    "v6_pattern_view_lower_bounded" ->
      """WITH RECURSIVE
           e AS (
             SELECT CAST(i AS BIGINT) AS s, CAST(i + 1 AS BIGINT) AS d
             FROM range(0, 15) t(i) WHERE i NOT IN (2, 3, 7)
             UNION ALL SELECT 2, 4
             UNION ALL SELECT 20, 21
             UNION ALL SELECT 5, 22
             UNION ALL SELECT 22, 23
             UNION ALL SELECT 23, 22),
           r(s, d) AS (
             SELECT s, d FROM e
             UNION
             SELECT r.s, e.d FROM r JOIN e ON r.d = e.s)
         SELECT DISTINCT e.s AS src_nation, r.d AS dst_nation
         FROM e JOIN r ON e.d = r.s
         ORDER BY src_nation, dst_nation""",
    "v6_pattern_view" ->
      """WITH orig AS (
           SELECT CAST(c_custkey AS BIGINT) AS custkey,
                  CAST(c_nationkey AS BIGINT) AS nationkey
           FROM customer
           WHERE c_nationkey >= 5 AND c_custkey <> 1),
         extra AS (
           SELECT CAST(900000 AS BIGINT) AS custkey,
                  CAST(7 AS BIGINT) AS nationkey
           UNION ALL
           SELECT CAST(i AS BIGINT), CAST(2 AS BIGINT)
           FROM range(1, 6) t(i))
         SELECT custkey, nationkey FROM
           (SELECT * FROM orig UNION ALL SELECT * FROM extra)
         ORDER BY custkey, nationkey""",
    "t6_tumbling" ->
      s"""SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
                 $stdAggSql
          FROM events GROUP BY 1, 2 ORDER BY event_type, window_start""",
    "t7_sliding" ->
      s"""SELECT event_type,
                 date_trunc('day', ts) - off * INTERVAL 1 DAY AS window_start,
                 $stdAggSql
          FROM events CROSS JOIN (VALUES (0), (1)) AS k(off)
          GROUP BY 1, 2 ORDER BY event_type, window_start""",
    "t8_session" ->
      """WITH x AS (
           SELECT user_id, ts, value,
                  CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL 8 HOUR
                       THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid FROM x)
         SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS cnt,
                ROUND(SUM(value), 4) AS sum_value
         FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "t9_count_window" ->
      """WITH x AS (
           SELECT user_id, value,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS rn
           FROM events)
         SELECT user_id, (rn - 1) // 5 AS bucket, COUNT(*) AS cnt,
                ROUND(SUM(value), 4) AS sum_value
         FROM x GROUP BY user_id, bucket ORDER BY user_id, bucket""",
    "t10_global_agg" ->
      s"""SELECT event_type, $stdAggSql
          FROM events GROUP BY event_type ORDER BY event_type""",
    "v5_incremental_view" ->
      """SELECT event_type, COUNT(*) AS cnt,
                ROUND(SUM(value), 4) AS sum,
                ROUND(CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) / (COUNT(*) * 100.0) + 1e-9, 4) AS avg,
                ROUND(MIN(value), 4) AS min,
                ROUND(MAX(value), 4) AS max
         FROM events
         WHERE ts < TIMESTAMP '2024-01-21 00:00:00'
           AND NOT (ts < TIMESTAMP '2024-01-11 00:00:00' AND user_id % 10 = 0)
         GROUP BY event_type ORDER BY event_type"""
  )
}
