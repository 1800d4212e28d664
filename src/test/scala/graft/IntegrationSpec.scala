package graft

import org.apache.spark.sql.functions._
import graft.functions.Enrichment
import graft.graph.GraphStore
import graft.gql.GqlExecutor
import graft.model.PropValue
import graft.views.Views
import graft.views.Views._

/** End-to-end flows from SURVEY §3 plus the round-1 extension set. */
class IntegrationSpec extends SparkSpec {
  import spark.implicits._

  test("§3.3 spine: mutation → change feed → incremental view → router") {
    // graph with a maintained "count by label" aggregation view
    var store = GraphStore.fromTuples(spark,
      Seq((1L, "User", Seq("score" -> 10.0)), (2L, "User", Seq("score" -> 30.0)),
        (3L, "Bot", Seq("score" -> 5.0))),
      Nil)
    val catalog = new ViewCatalog(spark,
      tempDir("graft_int").toString)
    catalog.register(ViewDefn("score_by_label",
      Aggregation("sum", "score", Seq("label")), EventDriven(0), Seq("vertices")))

    def vertexValues(s: GraphStore) = s.vertices.select(col("label"),
      PropValue.asDouble(col("props")("score")).as("value"))
    var state = Views.initAggState(vertexValues(store), Seq("label"))
    catalog.put("score_by_label", Views.finalizeAgg(state), persist = false)

    // write path: GQL CREATE emits change-feed rows
    store = GqlExecutor.run(store,
      """CREATE (u:User {score: 60.0})""").store
    val newChanges = store.changes.filter(col("op") === "add_vertex")
    assert(newChanges.count() == 1)

    // impact analysis → maintenance: convert change rows to deltas
    val affected = Views.affectedViews(catalog.definitions, Set("vertices"))
    assert(affected == Set("score_by_label"))
    val delta = newChanges.select(lit("add").as("op"),
      lit("User").as("label"),
      PropValue.asDouble(col("newProps")("score")).as("value"))
    state = Views.mergeAggDelta(state, delta, Seq("label"))
    catalog.put("score_by_label", Views.finalizeAgg(state), persist = false)

    // read path: router serves the maintained view
    val router = new QueryRouter(catalog)
    val served = router.routedData(AggPattern("sum")).get
    val userRow = served.filter(col("label") === "User").head()
    assert(userRow.getAs[Long]("cnt") == 3L)
    assert(userRow.getAs[Double]("sum") == 100.0)
  }

  test("reliable checkpointDir: iterative loops match localCheckpoint results") {
    // the long-lived-cluster-job variant: with a session checkpoint
    // dir every iterative operator swaps localCheckpoint() for the
    // reliable checkpoint() — results must be identical, and the
    // checkpoint dir must actually receive data
    val pairs = Seq((1L, 2L), (2L, 5L), (3L, 4L)).toDF("ida", "idb")
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val verts = (1L to 4L).map(Tuple1(_)).toDF("id")
    def clusters() = graft.functions.Dedup.resolveDupClusters(
        docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLocal = clusters()
    withCheckpointDir { dir =>
      assert(clusters() == viaLocal)

      val sccR = graft.algorithms.Algorithms.stronglyConnectedComponents(
          verts, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sccR == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))

      val reach = graft.algorithms.Algorithms.reachability(edges, Seq(1L))
        .collect().map(_.getLong(0)).toSet
      assert(reach == Set(1L, 2L, 3L, 4L))

      val core = graft.algorithms.Algorithms.kCore(edges, 2)
        .collect().map(_.getLong(0)).toSet
      assert(core == Set(1L, 2L, 3L))

      // reliable checkpoints actually landed on disk
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"no checkpoint files under $dir")
    }
  }

  test("GQL ORDER BY / LIMIT extension") {
    val store = GraphStore.fromTuples(spark,
      Seq((1L, "P", Seq("name" -> "a", "age" -> 30)),
        (2L, "P", Seq("name" -> "b", "age" -> 10)),
        (3L, "P", Seq("name" -> "c", "age" -> 20))),
      Nil)
    val r = GqlExecutor.run(store,
      "MATCH (v:P) RETURN v.name ORDER BY v.age DESC LIMIT 2").df
    val names = r.collect().map(row =>
      row.getStruct(0).getString(1)) // variant struct: kind, s, ...
    assert(names.toSeq == Seq("a", "c"))
  }

  test("GQL variable-length paths extension: -[:friend*1..2]->") {
    val store = GraphStore.fromTuples(spark,
      Seq((1L, "P", Seq("name" -> "Alice")), (2L, "P", Seq("name" -> "Bob")),
        (3L, "P", Seq("name" -> "Charlie")), (4L, "P", Seq("name" -> "Dave"))),
      Seq((1L, 2L, "friend", Nil), (2L, 3L, "friend", Nil),
        (3L, 4L, "friend", Nil)))
    def names(q: String): Set[String] =
      GqlExecutor.run(store, q).df.collect()
        .map(_.getStruct(0).getString(1)).toSet
    assert(names("""MATCH (a {name: "Alice"})-[:friend*1..2]->(b) RETURN b.name""")
      == Set("Bob", "Charlie"))
    assert(names("""MATCH (a {name: "Alice"})-[:friend*2..3]->(b) RETURN b.name""")
      == Set("Charlie", "Dave"))
    assert(names("""MATCH (a {name: "Alice"})-[:friend*]->(b) RETURN b.name""")
      == Set("Bob", "Charlie", "Dave"))
  }

  test("enrichment: broadcast lookup + pipeline composition (E3/E4)") {
    val events = Seq((1L, "click"), (2L, "view"), (3L, "unknown_type"))
      .toDF("id", "event_type")
    val dict = Seq(("click", 1.0), ("view", 0.2)).toDF("etype", "weight")
    val enrich = Enrichment.pipeline(
      df => Enrichment.withLookup(df, "event_type", dict, "etype"),
      df => Enrichment.withDerived(df, "weighted_id",
        col("id") * coalesce(col("weight"), lit(0.0))))
    val out = enrich(events).orderBy("id").collect()
    assert(out.map(_.getAs[Double]("weighted_id")).toSeq == Seq(1.0, 0.4, 0.0))
  }

  test("salted join equals plain join (skew tool)") {
    val large = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k$i", i))
      .toDF("key", "v")
    val small = Seq(("hot", 100), ("k1", 1)).toDF("key", "w")
    val plain = large.join(small, "key").agg(sum(col("v") * col("w"))).head.getLong(0)
    val salted = Enrichment.saltedJoin(large, small, "key", 8)
      .agg(sum(col("v") * col("w"))).head.getLong(0)
    assert(plain == salted)
  }

  test("approx_count_distinct tracks exact within 5% (A5 scale path)") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val exact = li.agg(count_distinct(col("l_partkey"))).head.getLong(0)
    val approx = li.agg(approx_count_distinct(col("l_partkey"), 0.02)).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("X3: compaction folds changes into base and truncates the feed") {
    val s0 = GraphStore.fromTuples(spark, Seq((1L, "T", Nil)), Nil)
    val s1 = s0.addVertices(GraphStore.fromTuples(spark,
      Seq((2L, "T", Nil)), Nil).vertices)
    assert(s1.changes.count() == 1)
    val dir = tempDir("graft_compact").toString
    val s2 = s1.compact(dir)
    assert(s2.vertices.count() == 2)
    assert(s2.changes.count() == 0)
    assert(s2.version == s1.version)
  }

  test("§3.2 front door: GQL routes to a registered view, else executes") {
    import graft.gql.RoutedGql
    val store = GraphStore.fromTuples(spark,
      Seq((1L, "Person", Seq("name" -> "Alice")), (2L, "Person", Seq("name" -> "Bob"))),
      Seq((1L, 2L, "friend", Nil)))
    val dir = tempDir("graft_router").toString
    val catalog = new ViewCatalog(spark, dir)
    // a maintained count view — the router should serve COUNT queries
    // from it without touching the executor
    catalog.register(ViewDefn("person_count",
      Aggregation("count", "id", Nil), OnDemand(60000), Seq("vertices")))
    catalog.put("person_count",
      store.vertices.agg(count(lit(1)).as("cnt")))
    val served = RoutedGql.run(store, catalog, "MATCH (p:Person) RETURN count(*)")
    assert(served.servedBy.contains("person_count"))
    assert(served.df.head.getLong(0) == 2L)
    // a traversal has no qualifying view (count view scores 0) →
    // falls through to direct execution
    val direct = RoutedGql.run(store, catalog,
      "MATCH (a:Person)-[:friend]->(b) RETURN b.name")
    assert(direct.servedBy.isEmpty)
    assert(direct.df.count() == 1)
    // writes never route
    val w = RoutedGql.run(store, catalog, """CREATE (x:Person {name: "Carol"})""")
    assert(w.servedBy.isEmpty && w.store.vertices.count() == 3)
    // an ALIASED aggregate classifies identically to the bare one —
    // `RETURN count(p) AS cnt` must hit the same count view
    val aliased = RoutedGql.run(store, catalog,
      "MATCH (p:Person) RETURN count(p) AS cnt")
    assert(aliased.servedBy.contains("person_count"))
    assert(aliased.df.head.getLong(0) == 2L)
    // the full register → incrementally-refresh → route → serve loop
    // for a PATTERN view: register it as a graph_traversal analytics
    // product, refresh it through the change feed (r9 V5c — the
    // MATCH never re-runs), and the same traversal that fell through
    // above now serves from the maintained state
    catalog.register(ViewDefn("friend_pairs",
      Analytics("graph_traversal", Map("pattern" -> "Person-friend-Person")),
      OnDemand(60000), Seq("vertices", "edges")))
    val m1 = w.store.addEdges(Seq((2L, 3L, "friend"))
      .toDF("src", "dst", "label")
      .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
    Views.refreshPatternView(catalog, "friend_pairs", store, m1,
      "Person", "friend", "Person")
    val viaView = RoutedGql.run(m1, catalog,
      "MATCH (a:Person)-[:friend]->(b) RETURN b.name")
    assert(viaView.servedBy.contains("friend_pairs"))
    assert(viaView.df.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (2L, 3L)))
  }

  test("GQL-string pattern views: register, bootstrap, prop-flip refresh, executor parity") {
    import graft.gql.{GqlExecutor, GqlViews}
    import graft.model.PropValue
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "Person", Seq("department" -> "Engineering")),
        (2L, "Person", Seq("department" -> "Engineering")),
        (3L, "Person", Seq("department" -> "Marketing"))),
      Seq((1L, 2L, "friend", Nil), (2L, 3L, "friend", Nil)))
    val cat = new ViewCatalog(spark,
      tempDir("graft_gqlv").toString)
    val defn = "MATCH (a:Person {department: \"Engineering\"})" +
      "-[:friend]->(b:Person)"
    GqlViews.register(cat, "eng_friends", defn)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // bootstrap refresh (empty window): the view equals the MATCH —
    // b carries no predicate, so 2→3 qualifies (src 2 is Engineering)
    val r0 = GqlViews.refresh(cat, "eng_friends", base, base)
    assert(rows(r0) == Set((1L, 2L), (2L, 3L)))
    // prop flips + a new edge: 1 leaves Engineering, 3 joins it
    def dept(v: String) =
      map(lit("department"), PropValue.ofString(lit(v)))
    val m1 = base.updateVertexProps(
        Seq(1L).toDF("id").select(col("id"), dept("Marketing").as("props"))
          .unionByName(Seq(3L).toDF("id")
            .select(col("id"), dept("Engineering").as("props"))))
      .addEdges(Seq((3L, 1L, "friend")).toDF("src", "dst", "label")
        .withColumn("props", lit(null).cast(PropValue.mapType)))
    val r1 = GqlViews.refresh(cat, "eng_friends", base, m1)
    assert(rows(r1) == Set((2L, 3L), (3L, 1L)))
    // the incrementally maintained view IS the executor's answer
    val direct = GqlExecutor.run(m1,
      defn + " RETURN id(a) AS src, id(b) AS dst").df
    assert(rows(r1) == rows(direct))
    // and the router serves it for traversal queries
    val served = graft.gql.RoutedGql.run(m1, cat,
      "MATCH (a:Person)-[:friend]->(b) RETURN a.department")
    assert(served.servedBy.contains("eng_friends"))
    // definition validation: cross-position chain WHERE (adjacent-
    // scoped chain WHERE, `*1..` composition, and `*m..` composition
    // are maintained since r11 — see StreamViewsSpec), incoming,
    // unlabeled, *0 lower bounds, null props all reject at
    // REGISTRATION time
    for (bad <- Seq(
        "MATCH (a:Person)-[:friend]->(b:Person)-[:friend]->(c:Person)" +
          " WHERE a.age > c.age",
        "MATCH (a:Person)<-[:friend]-(b:Person)",
        "MATCH (a)-[:friend]->(b:Person)",
        "MATCH (a:Person)-[:friend*0..]->(b:Person)",
        "MATCH (a:Person {department: null})-[:friend]->(b:Person)")) {
      intercept[IllegalArgumentException] {
        GqlViews.register(cat, "bad", bad)
      }
    }
    // the no-RETURN rule is an AST check, not a substring scan: a
    // label or prop VALUE containing 'return' must register fine...
    GqlViews.register(cat, "ret_label",
      "MATCH (a:ReturnItem)-[:friend]->(b:Person)")
    GqlViews.register(cat, "ret_prop",
      "MATCH (a:Person {note: \"no returns\"})-[:friend]->(b:Person)")
    // ...while an actual RETURN clause still rejects with the clear
    // dead-syntax message (not a confusing double-RETURN parse error)
    val retErr = intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad_ret",
        "MATCH (a:Person)-[:friend]->(b:Person) RETURN a")
    }
    assert(retErr.getMessage.contains("no RETURN"))
  }

  test("X1 parity: remove_edge + update props, replace-not-merge, feed rows") {
    val s0 = GraphStore.fromTuples(spark,
      Seq((1L, "P", Seq("name" -> "alice", "age" -> 30)),
        (2L, "P", Seq("name" -> "bob")), (3L, "P", Nil)),
      Seq((1L, 2L, "knows", Seq("w" -> 1.0)), (1L, 3L, "knows", Nil),
        (2L, 3L, "likes", Nil)))

    // remove_edge by exact (src, dst, label); missing keys are no-ops
    val s1 = s0.removeEdges(Seq((1L, 2L, "knows"), (9L, 9L, "nope"))
      .toDF("src", "dst", "label"))
    assert(s1.edges.count() == 2)
    val rm = s1.changes.filter(col("op") === "remove_edge")
    assert(rm.count() == 1)
    assert(rm.select(PropValue.asDouble(col("oldProps")("w"))).head.getDouble(0) == 1.0)

    // update_vertex_props REPLACES the map (reference lib.rs:310-312):
    // age must be gone, not merged
    val s2 = s1.updateVertexProps(
      Seq(1L).toDF("id").withColumn("props", GraphStore.propsMap("name" -> "alice2")))
    val v1 = s2.vertices.filter(col("id") === 1L)
    assert(v1.select(PropValue.asString(col("props")("name"))).head.getString(0) == "alice2")
    assert(v1.select(col("props")("age")).head.isNullAt(0))
    val uv = s2.changes.filter(col("op") === "update_vertex_props")
    assert(uv.count() == 1)
    assert(uv.select(PropValue.asString(col("oldProps")("name"))).head.getString(0) == "alice")

    // update_edge_props: existing key replaced, absent key ignored
    val s3 = s2.updateEdgeProps(
      Seq((2L, 3L, "likes"), (7L, 7L, "ghost")).toDF("src", "dst", "label")
        .withColumn("props", GraphStore.propsMap("w" -> 9.0)))
    val e23 = s3.edges.filter(col("src") === 2L && col("dst") === 3L)
    assert(e23.select(PropValue.asDouble(col("props")("w"))).head.getDouble(0) == 9.0)
    assert(s3.changes.filter(col("op") === "update_edge_props").count() == 1)
    assert(s3.version == 3L)
  }

  test("X2 props updates keep the store's partitions and equal the " +
    "anti-join ∪ matched reference as bags, feed rows included") {
    val s0 = GraphStore.fromTuples(spark,
      (1L to 8L).map(i => (i, "P", Seq("k" -> i.toInt))),
      Seq((1L, 2L, "knows", Seq("w" -> 1.0)), (1L, 2L, "likes", Seq("w" -> 2.0)),
        (2L, 3L, "knows", Nil), (3L, 4L, "knows", Seq("w" -> 3.0))))
    // duplicate id (two maps), a null new map, an absent id
    val vRows = Seq((2L, 20), (2L, 21), (4L, 40)).toDF("id", "k")
      .select(col("id"), map(lit("k"), PropValue.ofInt(col("k").cast("long")))
        .as("props"))
      .unionByName(Seq(5L, 99L).toDF("id")
        .withColumn("props", GraphStore.propsMap()))
    // (1, 2, knows) updated while (1, 2, likes) keeps its map; a
    // null map and an absent key
    val eRows = Seq((1L, 2L, "knows")).toDF("src", "dst", "label")
      .withColumn("props", GraphStore.propsMap("w" -> 9.0))
      .unionByName(Seq((3L, 4L, "knows"), (7L, 7L, "ghost"))
        .toDF("src", "dst", "label")
        .withColumn("props", GraphStore.propsMap()))
    val s1 = s0.updateVertexProps(vRows)
    val s2 = s1.updateEdgeProps(eRows)

    // a small update frame broadcasts; the old union doubled these
    val (vParts, eParts) =
      (s0.vertices.rdd.getNumPartitions, s0.edges.rdd.getNumPartitions)
    assert(vParts > 1 && eParts > 1, "fixture spans several partitions")
    assert(s1.vertices.rdd.getNumPartitions == vParts)
    assert(s2.edges.rdd.getNumPartitions == eParts)

    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    def reference(base: org.apache.spark.sql.DataFrame,
        rows: org.apache.spark.sql.DataFrame, keys: Seq[String]) = {
      val upd = rows.withColumnRenamed("props", "__newProps")
      val matched = base.join(upd, keys)
      (base.join(upd.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(matched.select(base.columns.map {
          case "props" => col("__newProps").as("props")
          case c => col(c)
        }: _*)), matched)
    }
    val (refV, matchedV) = reference(s0.vertices, vRows, Seq("id"))
    val (refE, matchedE) = reference(s1.edges, eRows, Seq("src", "dst", "label"))
    assert(s1.vertices.count() == 9)
    assert(bag(s1.vertices) == bag(refV))
    assert(s2.edges.count() == 4)
    assert(bag(s2.edges) == bag(refE))

    // feed rows: one per matched (key, new map), old and new props
    val feedCols = Seq("op", "id", "src", "dst", "elabel", "oldProps",
      "newProps", "source", "version").map(col)
    assert(bag(s2.changes.filter(col("op") === "update_vertex_props")
      .select(feedCols: _*)) == bag(matchedV.select(
        lit("update_vertex_props").as("op"), col("id"),
        lit(null).cast("long").as("src"), lit(null).cast("long").as("dst"),
        lit(null).cast("string").as("elabel"), col("props").as("oldProps"),
        col("__newProps").as("newProps"), lit("api").as("source"),
        lit(1L).as("version"))))
    assert(bag(s2.changes.filter(col("op") === "update_edge_props")
      .select(feedCols: _*)) == bag(matchedE.select(
        lit("update_edge_props").as("op"), lit(null).cast("long").as("id"),
        col("src"), col("dst"), col("label").as("elabel"),
        col("props").as("oldProps"), col("__newProps").as("newProps"),
        lit("api").as("source"), lit(2L).as("version"))))
  }

  test("X2 semantics: versions increase, removals carry prior props") {
    val s0 = GraphStore.fromTuples(spark, Seq((1L, "T", Seq("k" -> "v"))), Nil)
    assert(s0.version == 0L)
    val s1 = s0.addVertices(GraphStore.fromTuples(spark,
      Seq((2L, "T", Nil)), Nil).vertices)
    val s2 = s1.removeVertices(Seq(1L).toDF("id"))
    assert(s2.version == 2L)
    val rm = s2.changes.filter(col("op") === "remove_vertex").head()
    assert(PropValue.asString(col("oldProps")("k")) != null)
    val oldK = s2.changes.filter(col("op") === "remove_vertex")
      .select(PropValue.asString(col("oldProps")("k"))).head.getString(0)
    assert(oldK == "v")
  }
}
