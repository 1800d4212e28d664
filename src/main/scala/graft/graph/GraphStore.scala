package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.model.PropValue
import graft.sources.Tables
import graft.Lineage.CutOps
import java.util.concurrent.ConcurrentHashMap

/** Property-graph store over two DataFrames.
  *
  * Capability parity with the reference's snapshot store
  * (graph/storage/src/lib.rs:176-187): vertices (id, label, props),
  * edges keyed by (src, dst, label) (lib.rs:171), dynamic property
  * maps. The reference's in-memory adjacency indexes are NOT
  * materialized — Spark gets the same O(degree) effect from
  * partitioned equi-joins on src/dst, and at cluster scale from
  * bucketing the edge table on those keys.
  *
  * Mutation methods return a NEW GraphStore (atomic batch visibility,
  * the Spark analogue of the reference's OCC commit, lib.rs:454-481)
  * and carry a monotonically increasing version. Each mutation also
  * appends rows to a change feed (FIXTURES §4 schema) that drives
  * incremental view maintenance.
  *
  * Property updates keep the store's partitioning: a small update
  * frame broadcasts into one left-outer join over the base scan, so
  * a stream of update batches does not grow the partition count (and
  * with it every later scan's task count). Vertex/edge additions
  * still append the batch frame's partitions.
  *
  * The store carries its max vertex id, the base GQL CREATE draws new
  * ids from (live max + 1, executor.rs:618-625). It is computed by one
  * `max(id)` aggregate the first time [[maxVertexId]] is asked and
  * memoized; a mutation that keeps the id set (property updates, edge
  * adds and removes, [[truncated]], [[truncatedEdges]], [[cache]],
  * [[compact]]) hands the known max to the new store, and CREATE
  * advances it from the ids it assigned on the driver. Removing
  * vertices (it may delete the max) and a caller's [[addVertices]]
  * rows leave it unknown, so the next CREATE recomputes it. A store
  * built through the public constructor starts unknown.
  */
final class GraphStore private (
    val vertices: DataFrame,
    val edges: DataFrame,
    val changes: DataFrame,
    val version: Long,
    carriedMaxId: Option[Long]) {

  def this(vertices: DataFrame, edges: DataFrame, changes: DataFrame,
      version: Long) = this(vertices, edges, changes, version, None)

  import GraphStore._

  // benign race: two threads may both compute the same max
  @volatile private var knownMaxId: Option[Long] = carriedMaxId

  /** The same store with other frames and the same vertex id set. */
  private def keepingIds(v: DataFrame, e: DataFrame, ch: DataFrame,
      ver: Long): GraphStore = new GraphStore(v, e, ch, ver, knownMaxId)

  def spark: SparkSession = vertices.sparkSession

  // ---- scans (S1-S5) ----------------------------------------------

  def vertexById(id: Long): DataFrame = vertices.filter(col("id") === id)

  def edgesBetween(src: Long, dst: Long, label: Option[String] = None): DataFrame = {
    val base = edges.filter(col("src") === src && col("dst") === dst)
    label.fold(base)(l => base.filter(col("label") === l))
  }

  def findVerticesByLabel(label: String): DataFrame =
    vertices.filter(col("label") === label)

  // ---- traversal (J2-J4) ------------------------------------------

  /** Out-neighbors of a vertex set; one equi-join
    * (graph/storage/src/lib.rs:738-747). The id set frequently
    * derives from `vertices` itself, so the join reduces to
    * edge-attribute-only columns before rejoining vertices — avoiding
    * Spark's ambiguous-self-join trap.
    */
  def outNeighbors(ids: DataFrame, edgeLabel: Option[String] = None): DataFrame =
    neighbors(ids, edgeLabel, "src", "dst")

  def inNeighbors(ids: DataFrame, edgeLabel: Option[String] = None): DataFrame =
    neighbors(ids, edgeLabel, "dst", "src")

  private def neighbors(ids: DataFrame, edgeLabel: Option[String],
      fromCol: String, toCol: String): DataFrame = {
    val e = edgeLabel.fold(edges)(l => edges.filter(col("label") === l))
      .select(col(fromCol).as("__from"), col(toCol).as("__to"))
    val targets = ids.select(col("id").as("__qid"))
      .join(e, col("__qid") === col("__from"))
      .select(col("__to").as("__nid"))
    vertices.join(targets, vertices("id") === targets("__nid"))
      .select(vertices("id"), vertices("label"), vertices("props"))
  }

  /** 2-hop: friends-of-friends, dedup, excluding the start set
    * (graph/storage/src/lib.rs:802-830).
    */
  def twoHop(startId: Long, edgeLabel: Option[String] = None): DataFrame = {
    val e = edgeLabel.fold(edges)(l => edges.filter(col("label") === l))
    val e1 = e.select(col("src").as("a"), col("dst").as("b"))
    val e2 = e.select(col("src").as("b2"), col("dst").as("c"))
    e1.filter(col("a") === startId)
      .join(e2, col("b") === col("b2"))
      .filter(col("c") =!= startId)
      .select(col("c").as("id")).distinct()
  }

  // ---- mutations (X1-X2) ------------------------------------------

  def addVertices(rows: DataFrame): GraphStore =
    new GraphStore(vertices.join(rows, Seq("id"), "left_anti").unionByName(rows),
      edges, changes.unionByName(addVertexOps(rows)), version + 1)

  /** [[addVertices]] for rows whose ids run from [[maxVertexId]] + 1
    * up to `newMax` (GQL CREATE): no existing vertex can hold them, so
    * no anti-join, and the new store knows its max without a job.
    */
  private[graft] def addVerticesAbove(rows: DataFrame, newMax: Long): GraphStore =
    new GraphStore(vertices.unionByName(rows), edges,
      changes.unionByName(addVertexOps(rows)), version + 1, Some(newMax))

  private def addVertexOps(rows: DataFrame): DataFrame =
    rows.select(
      lit("add_vertex").as("op"), col("id"),
      lit(null).cast(LongType).as("src"), lit(null).cast(LongType).as("dst"),
      lit(null).cast(StringType).as("elabel"),
      lit(null).cast(PropValue.mapType).as("oldProps"), col("props").as("newProps"),
      lit("api").as("source"), current_timestamp().as("ts"),
      lit(version + 1).as("version"))

  def addEdges(rows: DataFrame): GraphStore = {
    val newE = edges.join(rows, Seq("src", "dst", "label"), "left_anti").unionByName(rows)
    val ch = rows.select(
      lit("add_edge").as("op"), lit(null).cast(LongType).as("id"),
      col("src"), col("dst"), col("label").as("elabel"),
      lit(null).cast(PropValue.mapType).as("oldProps"), col("props").as("newProps"),
      lit("api").as("source"), current_timestamp().as("ts"),
      lit(version + 1).as("version"))
    keepingIds(vertices, newE, changes.unionByName(ch), version + 1)
  }

  /** Remove vertices and cascade their edges
    * (graph/storage/src/lib.rs:274-293).
    */
  def removeVertices(ids: DataFrame): GraphStore = {
    val keyed = ids.select(col("id"))
    val removedV = vertices.join(keyed, Seq("id"), "left_semi")
    val newV = vertices.join(keyed, Seq("id"), "left_anti")
    val newE = edges
      .join(keyed.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .join(keyed.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      .select(edges.columns.map(col): _*)
    val ch = removedV.select(
      lit("remove_vertex").as("op"), col("id"),
      lit(null).cast(LongType).as("src"), lit(null).cast(LongType).as("dst"),
      lit(null).cast(StringType).as("elabel"),
      col("props").as("oldProps"), lit(null).cast(PropValue.mapType).as("newProps"),
      lit("api").as("source"), current_timestamp().as("ts"),
      lit(version + 1).as("version"))
    new GraphStore(newV, newE, changes.unionByName(ch), version + 1)
  }

  /** Remove edges by exact (src, dst, label) key
    * (graph/storage/src/lib.rs:61-63, applied at :299-308). Keys
    * with no matching edge are no-ops, as in the reference.
    */
  def removeEdges(keys: DataFrame): GraphStore = {
    val k = keys.select(col("src"), col("dst"), col("label"))
    val removed = edges.join(k, Seq("src", "dst", "label"), "left_semi")
    val newE = edges.join(k, Seq("src", "dst", "label"), "left_anti")
    val ch = removed.select(
      lit("remove_edge").as("op"), lit(null).cast(LongType).as("id"),
      col("src"), col("dst"), col("label").as("elabel"),
      col("props").as("oldProps"), lit(null).cast(PropValue.mapType).as("newProps"),
      lit("api").as("source"), current_timestamp().as("ts"),
      lit(version + 1).as("version"))
    keepingIds(vertices, newE, changes.unionByName(ch), version + 1)
  }

  /** Replace the property map of existing vertices
    * (graph/storage/src/lib.rs:64-67, applied at :310-312 — REPLACE,
    * not merge). rows: (id, props). Ids without a vertex are ignored
    * (the reference's props-only map would insert a bare entry; this
    * store carries a label column an update cannot invent).
    */
  def updateVertexProps(rows: DataFrame): GraphStore = {
    val upd = rows.select(col("id"), col("props").as("__newProps"))
    val matched = vertices.join(upd, Seq("id"))
    val newV = replaceProps(vertices, upd, Seq("id"))
    val ch = matched.select(
      lit("update_vertex_props").as("op"), col("id"),
      lit(null).cast(LongType).as("src"), lit(null).cast(LongType).as("dst"),
      lit(null).cast(StringType).as("elabel"),
      col("props").as("oldProps"), col("__newProps").as("newProps"),
      lit("api").as("source"), current_timestamp().as("ts"),
      lit(version + 1).as("version"))
    keepingIds(newV, edges, changes.unionByName(ch), version + 1)
  }

  /** Replace the property map of existing edges, keyed (src, dst,
    * label) (graph/storage/src/lib.rs:68-71, applied at :313-318 —
    * the reference's `if let Some` makes missing keys no-ops too).
    * rows: (src, dst, label, props).
    */
  def updateEdgeProps(rows: DataFrame): GraphStore = {
    val upd = rows.select(col("src"), col("dst"), col("label"),
      col("props").as("__newProps"))
    val matched = edges.join(upd, Seq("src", "dst", "label"))
    val newE = replaceProps(edges, upd, Seq("src", "dst", "label"))
    val ch = matched.select(
      lit("update_edge_props").as("op"), lit(null).cast(LongType).as("id"),
      col("src"), col("dst"), col("label").as("elabel"),
      col("props").as("oldProps"), col("__newProps").as("newProps"),
      lit("api").as("source"), current_timestamp().as("ts"),
      lit(version + 1).as("version"))
    keepingIds(vertices, newE, changes.unionByName(ch), version + 1)
  }

  /** `base` with the props of rows matching `upd` (keys, __newProps)
    * REPLACED — null maps included; a key listed twice yields two
    * rows, an absent key nothing. One left-outer join with a hit
    * marker: a small `upd` broadcasts and the result keeps `base`'s
    * partitions, where a union with the matched rows would append the
    * join's partitions on every update batch.
    */
  private def replaceProps(base: DataFrame, upd: DataFrame,
      keys: Seq[String]): DataFrame =
    base.join(upd.withColumn("__hit", lit(true)), keys, "left_outer")
      .select(base.columns.map {
        case "props" =>
          when(col("__hit"), col("__newProps")).otherwise(col("props"))
            .as("props")
        case c => col(c)
      }: _*)

  /** The live max vertex id, 0 for an empty store: carried when known
    * (see the class doc), else one aggregate, memoized.
    */
  def maxVertexId(): Long = knownMaxId.getOrElse {
    val m = vertices.agg(coalesce(max("id"), lit(0L))).head().getLong(0)
    knownMaxId = Some(m)
    m
  }

  // ---- persistence (S6) -------------------------------------------

  def save(dir: String): Unit = {
    vertices.write.mode("overwrite").parquet(s"$dir/vertices.parquet")
    edges.write.mode("overwrite").parquet(s"$dir/edges.parquet")
    changes.write.mode("overwrite").parquet(s"$dir/changes.parquet")
  }

  /** Cluster-scale co-location (the 100 TB form of S6): persist
    * vertices bucketed by id and edges bucketed by src — both sorted
    * — so every id/src-keyed join (traversals, degree aggregations,
    * the GQL expand chain) probes bucket-to-bucket with NO exchange
    * and no sort on either side. At 1000 executors this is the
    * difference between a full edge shuffle per hop and a local
    * merge join; the in-memory adjacency index the reference builds
    * (lib.rs:176-187) becomes a storage layout property instead of a
    * data structure. Registered as external parquet tables under
    * `dir`.
    */
  def saveBucketed(namePrefix: String, buckets: Int, dir: String): Unit = {
    vertices.write.mode("overwrite").format("parquet")
      .option("path", s"$dir/${namePrefix}_vertices")
      .bucketBy(buckets, "id").sortBy("id")
      .saveAsTable(s"${namePrefix}_vertices")
    edges.write.mode("overwrite").format("parquet")
      .option("path", s"$dir/${namePrefix}_edges")
      .bucketBy(buckets, "src").sortBy("src")
      .saveAsTable(s"${namePrefix}_edges")
  }

  /** X3: checkpoint/compaction — fold the change feed into the base
    * tables and truncate it (the Spark analogue of snapshot + WAL
    * truncate, graph/storage/src/lib.rs:582-611). The vertices/edges
    * frames already reflect all changes (mutations apply eagerly to
    * the logical plan); compaction materializes them to parquet and
    * restarts the feed, so lineage and replay cost stop growing.
    */
  def compact(dir: String): GraphStore = {
    save(dir)
    val reloaded = GraphStore.load(spark, dir)
    keepingIds(reloaded.vertices, reloaded.edges,
      GraphStore.emptyChanges(spark), version)
  }

  def cache(): GraphStore = {
    vertices.persist(StorageLevel.MEMORY_AND_DISK)
    edges.persist(StorageLevel.MEMORY_AND_DISK)
    this
  }

  /** Truncate the mutation lineage: eagerly cut (local) the
    * vertex frame so CHAINED mutation statements stop re-executing
    * the whole prior anti-join/union plan on every existence probe
    * and read (each uncut mutation layer adds a full re-execution —
    * a 3-statement chain was measured re-running the base load ~7×).
    * Edges and the change feed keep their lineage: vertex-only
    * mutations leave edges untouched, and the append-only feed is
    * read rarely. Local checkpoints trade executor-loss recovery for
    * speed — `compact(dir)` is the durable form. The cut is fresh
    * even when the vertex frame already is one, so a caller may free
    * the replaced store's cuts (`Lineage.freeCut`) after a commit.
    */
  def truncated(): GraphStore =
    keepingIds(vertices.cut(reliable = false), edges, changes, version)

  /** Edge-side lineage cut — the [[truncated]] twin for chains of
    * EDGE mutations (relationship MERGE loops): each uncut layer
    * would re-execute the prior anti-join/union under the next
    * merge's probe. Vertices stay untouched (checkpointing them here
    * would materialize the full vertex table for chains that never
    * mutate it).
    */
  def truncatedEdges(): GraphStore =
    keepingIds(vertices, edges.cut(reliable = false), changes, version)
}

object GraphStore {

  val changeSchema: StructType = StructType(Seq(
    StructField("op", StringType), StructField("id", LongType),
    StructField("src", LongType), StructField("dst", LongType),
    StructField("elabel", StringType),
    StructField("oldProps", PropValue.mapType),
    StructField("newProps", PropValue.mapType),
    StructField("source", StringType), StructField("ts", TimestampType),
    StructField("version", LongType)))

  val vertexSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("label", StringType),
    StructField("props", PropValue.mapType)))

  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("label", StringType, nullable = false),
    StructField("props", PropValue.mapType)))

  def emptyChanges(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], changeSchema)

  def apply(vertices: DataFrame, edges: DataFrame): GraphStore =
    new GraphStore(vertices, edges, emptyChanges(vertices.sparkSession), 0L)

  def load(spark: SparkSession, dir: String): GraphStore =
    GraphStore(
      spark.read.parquet(s"$dir/vertices.parquet"),
      spark.read.parquet(s"$dir/edges.parquet"))

  /** Literal Scala value → variant Column (test fixtures / CREATE). */
  def pv(value: Any): Column = value match {
    case null => PropValue.ofNull
    case s: String => PropValue.ofString(lit(s))
    case i: Int => PropValue.ofInt(lit(i.toLong))
    case i: Long => PropValue.ofInt(lit(i))
    case d: Double => PropValue.ofFloat(lit(d))
    case b: Boolean => PropValue.ofBool(lit(b))
    case xs: Seq[_] => PropValue.ofVec(xs.map {
      case s: String => PropValue.scalarOfString(lit(s))
      case i: Int => PropValue.scalarOfInt(lit(i.toLong))
      case i: Long => PropValue.scalarOfInt(lit(i))
      case other => throw new IllegalArgumentException(s"vec elem: $other")
    }: _*)
    case other => throw new IllegalArgumentException(s"prop value: $other")
  }

  def propsMap(kvs: (String, Any)*): Column =
    if (kvs.isEmpty) lit(null).cast(PropValue.mapType)
    else map(kvs.flatMap { case (k, v) => Seq(lit(k), pv(v)) }: _*)

  /** In-memory fixture builder (the Alice/Bob/Charlie graphs of the
    * reference's unit tests, FIXTURES §1-§2).
    */
  def fromTuples(
      spark: SparkSession,
      vs: Seq[(Long, String, Seq[(String, Any)])],
      es: Seq[(Long, Long, String, Seq[(String, Any)])]): GraphStore = {
    import spark.implicits._
    val vdf = vs.map(v => (v._1, v._2)).toDF("id", "label")
    val vWithProps = vs.zipWithIndex.foldLeft(
      vdf.withColumn("props", lit(null).cast(PropValue.mapType))) {
      case (df, ((id, _, props), _)) =>
        df.withColumn("props",
          when(col("id") === id, propsMap(props: _*)).otherwise(col("props")))
    }
    val edf = es.map(e => (e._1, e._2, e._3)).toDF("src", "dst", "label")
    val eWithProps = es.foldLeft(
      edf.withColumn("props", lit(null).cast(PropValue.mapType))) {
      case (df, (s, d, l, props)) =>
        df.withColumn("props",
          when(col("src") === s && col("dst") === d && col("label") === l,
            propsMap(props: _*)).otherwise(col("props")))
    }
    GraphStore(vWithProps, eWithProps)
  }

  // ---- TPC-H projection (FIXTURES §6) -----------------------------

  // Disjoint id spaces per entity table.
  val RegionOff = 1000000000L
  val NationOff = 2000000000L
  val CustomerOff = 3000000000L
  val SupplierOff = 4000000000L
  val PartOff = 5000000000L
  val OrderOff = 6000000000L

  private val tpchCache = new ConcurrentHashMap[String, GraphStore]()

  /** Deterministic property graph projected from the TPC-H tables:
    * Customer/Supplier/Part/Order/Nation/Region vertices; edges
    * placed (customer→order), contains (order→part, weight props),
    * supplied_by (order→supplier), located_in (customer|supplier→
    * nation), in_region (nation→region).
    *
    * Cached + persisted per sfDir: every graph query in a
    * Verify/Bench run shares one materialization.
    */
  def fromTpch(spark: SparkSession, dir: String): GraphStore =
    tpchCache.computeIfAbsent(dir, _ => buildTpch(spark, dir).cache())

  private def buildTpch(spark: SparkSession, dir: String): GraphStore = {
    def v(df: DataFrame, off: Long, key: String, label: String,
        props: (String, Column => Column, String)*): DataFrame =
      df.select(
        (col(key).cast(LongType) + off).as("id"),
        lit(label).as("label"),
        map(props.flatMap { case (name, enc, src) =>
          Seq(lit(name), enc(col(src)))
        }: _*).as("props"))

    val str = PropValue.ofString(_)
    val dbl = PropValue.ofFloat(_)
    val int = (c: Column) => PropValue.ofInt(c.cast(LongType))

    val customers = v(Tables.customer(spark, dir), CustomerOff, "c_custkey", "Customer",
      ("name", str, "c_name"), ("acctbal", dbl, "c_acctbal"),
      ("mktsegment", str, "c_mktsegment"), ("nationkey", int, "c_nationkey"))
    val suppliers = v(Tables.supplier(spark, dir), SupplierOff, "s_suppkey", "Supplier",
      ("name", str, "s_name"), ("acctbal", dbl, "s_acctbal"),
      ("nationkey", int, "s_nationkey"))
    val parts = v(Tables.part(spark, dir), PartOff, "p_partkey", "Part",
      ("name", str, "p_name"), ("brand", str, "p_brand"),
      ("type", str, "p_type"), ("size", int, "p_size"),
      ("retailprice", dbl, "p_retailprice"))
    val ordersV = v(Tables.orders(spark, dir), OrderOff, "o_orderkey", "Order",
      ("totalprice", dbl, "o_totalprice"), ("orderstatus", str, "o_orderstatus"),
      ("orderpriority", str, "o_orderpriority"))
    val nations = v(Tables.nation(spark, dir), NationOff, "n_nationkey", "Nation",
      ("name", str, "n_name"))
    val regions = v(Tables.region(spark, dir), RegionOff, "r_regionkey", "Region",
      ("name", str, "r_name"))

    val noProps = lit(null).cast(PropValue.mapType)
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)

    val placed = o.select(
      (col("o_custkey") + CustomerOff).as("src"),
      (col("o_orderkey") + OrderOff).as("dst"),
      lit("placed").as("label"), noProps.as("props"))
    val contains = li.select(
      (col("l_orderkey") + OrderOff).as("src"),
      (col("l_partkey") + PartOff).as("dst"),
      lit("contains").as("label"),
      map(lit("quantity"), PropValue.ofFloat(col("l_quantity")),
        lit("weight"), PropValue.ofFloat(col("l_extendedprice"))).as("props"))
      .dropDuplicates("src", "dst")
    val suppliedBy = li.select(
      (col("l_orderkey") + OrderOff).as("src"),
      (col("l_suppkey") + SupplierOff).as("dst"),
      lit("supplied_by").as("label"),
      map(lit("quantity"), PropValue.ofFloat(col("l_quantity"))).as("props"))
      .dropDuplicates("src", "dst")
    val custNation = c.select(
      (col("c_custkey") + CustomerOff).as("src"),
      (col("c_nationkey").cast(LongType) + NationOff).as("dst"),
      lit("located_in").as("label"), noProps.as("props"))
    val suppNation = s.select(
      (col("s_suppkey") + SupplierOff).as("src"),
      (col("s_nationkey").cast(LongType) + NationOff).as("dst"),
      lit("located_in").as("label"), noProps.as("props"))
    val inRegion = n.select(
      (col("n_nationkey").cast(LongType) + NationOff).as("src"),
      (col("n_regionkey").cast(LongType) + RegionOff).as("dst"),
      lit("in_region").as("label"), noProps.as("props"))

    GraphStore(
      customers.unionByName(suppliers).unionByName(parts)
        .unionByName(ordersV).unionByName(nations).unionByName(regions),
      placed.unionByName(contains).unionByName(suppliedBy)
        .unionByName(custNation).unionByName(suppNation).unionByName(inRegion))
  }
}
