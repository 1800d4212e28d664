package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import graft.Lineage
import graft.gql.{GqlExecutor, GqlParser}
import graft.graph.GraphStore
import graft.sources.Tables

/** A client session of GQL statements against the TPC-H graph
  * projection: three reads for every write transaction, reads drawn
  * from five templates, each transaction CREATE → MATCH…SET → a
  * read-your-write MATCH, then committed with the public lineage cut
  * so later statements run against the committed store.
  */
final class GqlSession(seed: Long) extends Workload {
  import GqlSession._

  private val gen = new Gen(seed)
  private var store: GraphStore = _
  private var spark: SparkSession = _
  private var dir: String = _

  // expected values, read from the parquet tables
  private var customers: IndexedSeq[Cust] = _
  private var ordersOf: Map[Long, Long] = _
  private var partsOf: Map[Long, Long] = _
  private var nationName: Map[Long, String] = _
  private var segments: IndexedSeq[String] = _

  private val planNodes = mutable.ArrayBuffer.empty[Double]
  private var queue: List[String] = Nil
  private var txn = 0

  def setup(s: SparkSession, d: String): Unit = {
    spark = s; dir = d
    store = GraphStore.fromTpch(s, d)
    store.vertices.count()
    store.edges.count()
  }

  override def prepareChecks(s: SparkSession): Unit = {
    customers = Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_nationkey")
      .collect().map(r => Cust(r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3), r.getInt(4).toLong)).toIndexedSeq.sortBy(_.key)
    val o = Tables.orders(s, dir)
    ordersOf = o.groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    partsOf = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey").distinct()
      .join(o.select(col("o_orderkey").as("l_orderkey"), col("o_custkey")), "l_orderkey")
      .groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    nationName = Tables.nation(s, dir).select("n_nationkey", "n_name").collect()
      .map(r => r.getInt(0).toLong -> r.getString(1)).toMap
    segments = customers.map(_.segment).distinct.sorted
    customers = customers.filter(c => ordersOf.contains(c.key))
  }

  /** Blocks of six reads (each template once, the 1-hop read twice)
    * and two writes in a fixed order, so every seed runs the same
    * statement mix and only the parameters change.
    */
  private def nextKind(): String = {
    if (queue.isEmpty) queue = Block
    val k = queue.head
    queue = queue.tail
    k
  }

  /** One untimed block, so the timed loop starts with compiled paths.
    * A second one would still speed the writes up, but costs 8 s of
    * every run.
    */
  override def warmUp(): Unit = {
    val r = new Report
    Block.foreach(_ => step(r))
    warmOk = r.failed == 0
    latencies.clear()
    planNodes.clear()
  }
  private var warmOk = true
  override def setupOk: Boolean = warmOk
  /** A whole block, so every template has a sample. */
  def cycle: Int = Block.size

  def step(report: Report): Unit = {
    tracer.newOp()
    val kind = nextKind()
    val ns = if (kind == "write") transaction(report) else read(kind, report)
    System.err.println(f"[perfbench] $kind ${ns / 1e6}%.1f ms")
    latencies.op(kind).add(ns)
  }

  /** Parse, build and collect one statement, each step its own span. */
  private def runRead(q: String, st: GraphStore): Array[Row] = {
    val stmt = tracer.span("gql.parse") {
      GqlParser.parse(q).fold(e => throw new IllegalArgumentException(e), identity)
    }
    val df = tracer.span("gql.build")(GqlExecutor.execute(st, stmt).df)
    tracer.span("gql.action")(df.collect())
  }

  private def runWrite(q: String, st: GraphStore): GraphStore = {
    val stmt = tracer.span("gql.parse") {
      GqlParser.parse(q).fold(e => throw new IllegalArgumentException(e), identity)
    }
    tracer.span("gql.build")(GqlExecutor.execute(st, stmt).store)
  }

  private def read(kind: String, report: Report): Long = {
    val c = gen.pick(customers)
    val (q, check): (String, Array[Row] => Boolean) = kind match {
      case "point" =>
        (s"""MATCH (c:Customer {name: "${c.name}"}) RETURN c.acctbal, c.mktsegment""",
          rows => rows.length == 1 && num(rows(0).get(0)) == c.acctbal &&
            str(rows(0).get(1)) == c.segment)
      case "hop1" =>
        (s"""MATCH (c:Customer {name: "${c.name}"})-[:placed]->(o:Order) RETURN o.totalprice""",
          rows => rows.length == ordersOf(c.key))
      case "hop2" =>
        (s"""MATCH (c:Customer {name: "${c.name}"})-[:placed]->(o:Order)""" +
          """-[:contains]->(p:Part) RETURN p.name""",
          rows => rows.length == partsOf(c.key))
      case "scan" =>
        val seg = gen.pick(segments)
        val bal = gen.int(110) * 100 - 1000
        val want = customers.count(x => x.segment == seg && x.acctbal > bal)
        (s"""MATCH (c:Customer) WHERE c.mktsegment = "$seg" AND c.acctbal > $bal.0 """ +
          "RETURN c.name",
          rows => rows.length == want)
      case "agg" =>
        val seg = gen.pick(segments)
        val want = customers.filter(_.segment == seg).groupBy(_.nation)
          .map { case (n, xs) => nationName(n) -> xs.size.toLong }
        (s"""MATCH (n:Nation)<-[:located_in]-(c:Customer) WHERE c.mktsegment = "$seg" """ +
          "RETURN n.name, count(c)",
          rows => rows.map(r => str(r.get(0)) -> num(r.get(1)).toLong).toMap == want)
    }
    val ns = tracer.span("gql.read") {
      report.op(s"read $kind: $q")(check(runRead(q, store)))
    }
    latencies.read(kind).add(ns)
    ns
  }

  private def transaction(report: Report): Long = {
    txn += 1
    val name = s"BenchCust#${seed}_$txn"
    val bal = gen.int(100000) / 100.0
    val delta = (gen.int(9000) + 100) / 100.0
    val before = store
    val ns = tracer.span("gql.write") {
      report.op(s"write $name") {
        val created = tracer.span("graph.mutate") {
          runWrite(s"""CREATE (c:Customer {name: "$name", acctbal: $bal, """ +
            s"""mktsegment: "$BenchSegment"})""", before)
        }
        val updated = tracer.span("graph.mutate") {
          runWrite(s"""MATCH (c:Customer) WHERE c.name = "$name" """ +
            s"SET c.acctbal = c.acctbal + $delta", created)
        }
        tracer.probe(planNodes += countNodes(updated.vertices.queryExecution.logical))
        val seen = tracer.span("gql.read_own") {
          runRead(s"""MATCH (c:Customer {name: "$name"}) RETURN c.acctbal""", updated)
        }
        val committed = tracer.span("graph.commit")(updated.truncated())
        release(before)
        store = committed
        seen.length == 1 && math.abs(num(seen(0).get(0)) - (bal + delta)) < 1e-6
      }
    }
    latencies.writes.add(ns)
    ns
  }

  /** Free the lineage cut of a store that a newer commit replaced. */
  private def release(old: GraphStore): Unit = if (old ne base) {
    Lineage.freeCut(old.vertices)
    Lineage.freeCut(old.edges)
  }
  private def base: GraphStore = GraphStore.fromTpch(spark, dir)

  def release(): Unit = {
    release(store)
    base.vertices.unpersist()
    base.edges.unpersist()
  }

  def perLayer(r: Report, t: Tracer): Unit = {
    val rd = t.agg("gql.read"); val wr = t.agg("gql.write")
    val stmts = t.agg("gql.parse").count.max(1)
    r.layer("gql.parse_ms") = (t.agg("gql.parse").wallNs / 1e6 / stmts, "ms")
    r.layer("gql.build_ms") = (t.agg("gql.build").wallNs / 1e6 / stmts, "ms")
    r.layer("gql.action_ms") = (t.agg("gql.action").meanMs, "ms")
    r.layer("gql.jobs_per_read") = (rd.per(rd.work.jobs), "count")
    r.layer("gql.jobs_per_write") = (wr.per(wr.work.jobs), "count")
    r.layer("gql.write_plan_nodes") = (Samples.pct(planNodes.toSeq, 0.5), "count")
    val mut = t.agg("graph.mutate")
    r.layer("graph.mutate_ms") = (mut.meanMs, "ms")
    r.layer("graph.commit_ms") = (t.agg("graph.commit").meanMs, "ms")
  }
}

object GqlSession {
  final case class Cust(key: Long, name: String, acctbal: Double,
      segment: String, nation: Long)

  val Block: List[String] =
    List("point", "hop1", "hop2", "write", "scan", "agg", "hop1", "write")
  /** Segment of the customers the benchmark creates; no TPC-H
    * customer has it, so the read templates' answers do not move.
    */
  val BenchSegment = "PERFBENCH"
  val PlanNodeCap = 1000000

  /** A returned property value: graft's variant struct, or a plain
    * value for computed columns such as count().
    */
  def value(v: Any): Any = v match {
    case r: Row => Seq("s", "i", "d", "b").map(r.getAs[Any]).find(_ != null).orNull
    case other => other
  }
  def num(v: Any): Double = value(v) match {
    case n: java.lang.Number => n.doubleValue()
    case s: String => s.toDouble
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }
  def str(v: Any): String = String.valueOf(value(v))

  /** Node count of a logical plan, visiting shared subtrees once per
    * reference, stopping at [[PlanNodeCap]].
    */
  def countNodes(plan: LogicalPlan): Double = {
    var n = 0
    var todo: List[LogicalPlan] = List(plan)
    while (todo.nonEmpty && n < PlanNodeCap) {
      val p = todo.head
      todo = p.children.toList ::: todo.tail
      n += 1
    }
    n.toDouble
  }
}
