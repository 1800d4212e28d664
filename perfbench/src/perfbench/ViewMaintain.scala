package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, TransientCache}
import graft.gql.{GqlExecutor, GqlViews}
import graft.graph.GraphStore
import graft.model.PropValue
import graft.sources.Tables
import graft.views.Views.ViewCatalog

/** A GQL pattern view maintained under seeded mutation batches, beside
  * one graph algorithm and one dedup join of graft's operator pack.
  * A cycle is three operations: a batch (mutate and commit the store,
  * refresh and materialize the view, then read it), then each
  * analytics entry, checked by the full-column checksum of its result.
  */
final class ViewMaintain(seed: Long) extends Workload {
  import ViewMaintain._

  private val gen = new Gen(seed)
  private var spark: SparkSession = _
  private var dir: String = _
  private var base: GraphStore = _
  private var store: GraphStore = _
  private var catalog: ViewCatalog = _
  private val bootstrapNs = mutable.ArrayBuffer.empty[Long]

  // driver-side model of what the batches touch
  private val custs = mutable.LinkedHashMap.empty[Long, Cust]
  private val located = mutable.Set.empty[Long]
  private var nextCust = 0L
  private var batch = 0
  private var pos = 0
  private var segments: IndexedSeq[String] = _

  private val refreshes = new Samples
  private var warmOk = true

  /** One untimed cycle, so timed operations do not pay for compiling
    * the delta paths and the analytics plans, which makes a first run
    * of each slower and less steady than the ones after it.
    */
  override def warmUp(): Unit = {
    val r = new Report
    Cycle.foreach(_ => step(r))
    warmOk = r.failed == 0
    refreshes.ms.clear()
    latencies.clear()
  }
  override def setupOk: Boolean = warmOk
  def cycle: Int = Cycle.size

  def setup(s: SparkSession, d: String): Unit = {
    spark = s; dir = d
    base = GraphStore.fromTpch(s, d)
    base.vertices.count()
    base.edges.count()
    store = base
    catalog = new ViewCatalog(s,
      java.nio.file.Files.createTempDirectory("perfbench_views").toString)
    val t0 = System.nanoTime()
    GqlViews.register(catalog, View, ViewGql)
    Checksum.of(GqlViews.refresh(catalog, View, store, store))
    bootstrapNs += System.nanoTime() - t0
  }

  override def prepareChecks(s: SparkSession): Unit = {
    val cs = Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_nationkey")
      .collect()
    custs.clear(); located.clear()
    cs.foreach { r =>
      val id = r.getLong(0) + GraphStore.CustomerOff
      custs(id) = Cust(r.getString(1), r.getDouble(2), r.getString(3), r.getInt(4).toLong)
      located += id
    }
    segments = custs.values.map(_.segment).toSeq.distinct.sorted.toIndexedSeq
    nextCust = custs.keys.max + 1
  }

  def step(report: Report): Unit = {
    tracer.newOp()
    val kind = Cycle(pos % Cycle.size)
    pos += 1
    val ns = if (kind == "batch") runBatch(report) else analytics(kind, report)
    System.err.println(f"[perfbench] $kind ${ns / 1e6}%.1f ms")
    latencies.op(kind).add(ns)
  }

  private def runBatch(report: Report): Long = {
    batch += 1
    val before = store
    val t0 = System.nanoTime()
    var freshNs = 0L
    report.op(s"batch $batch") {
      val next = tracer.span("graph.mutate")(mutate(before))
      store = tracer.span("graph.commit")(next.truncated().truncatedEdges())
      val (_, ns) = Timed(tracer.span(s"views.refresh.$View") {
        Checksum.of(GqlViews.refresh(catalog, View, before, store))
      })
      refreshes.add(ns)
      freshNs = System.nanoTime() - t0
      val reads = (0 until ReadsPerBatch).map { _ =>
        Timed(tracer.span("views.read")(Checksum.of(catalog.dataOf(View).get)))._2
      }
      reads.foreach(latencies.read(View).add)
      System.err.println("[perfbench] reads ms " + reads.map(ns => f"${ns / 1e6}%.1f").mkString(" "))
      true
    }
    latencies.writes.add(freshNs)
    System.nanoTime() - t0
  }

  /** One operator-pack entry and the checksum of its whole result. */
  private def analytics(entry: String, report: Report): Long =
    tracer.span(Analytics(entry)) {
      report.op(s"$entry checksum") {
        try {
          val got = Checksum.of(SparkEntry.queries(entry)(spark, dir))
          if (got != Expected(entry))
            System.err.println(s"[perfbench] $entry checksum $got, expected ${Expected(entry)}")
          got == Expected(entry)
        } finally TransientCache.releaseAll()
      }
    }

  /** One seeded mutation batch over the committed store. */
  private def mutate(st: GraphStore): GraphStore = {
    val sp = spark; import sp.implicits._
    val live = custs.keys.toIndexedSeq
    // new customers, each located in a nation
    val added = (0 until AddPerBatch).map { _ =>
      val id = nextCust; nextCust += 1
      val c = Cust(s"Customer#bench$id", gen.int(1000000) / 100.0,
        gen.pick(segments), gen.int(25).toLong)
      custs(id) = c; located += id
      id -> c
    }
    // located_in edges removed from customers that still have one
    val unlocate = gen.shuffle(located.toSeq.sorted).take(UnlocatePerBatch)
    located --= unlocate
    // segment flips; every other one also moves the balance, which
    // swings the customer's orders in or out of the view
    val flips = gen.distinct(live.size, FlipsPerBatch).map(live(_)).filter(custs.contains)
      .zipWithIndex.map { case (id, i) =>
        val c = custs(id)
        val moved = c.copy(segment = gen.pick(segments),
          acctbal = if (i % 2 == 0) gen.int(1000000) / 100.0 else c.acctbal)
        custs(id) = moved
        id -> moved
      }
    // every other batch, the timed one included, a customer leaves,
    // cascading its edges: its orders drop out of the view
    val gone = if (batch % 2 == 0) {
      val id = live(gen.int(live.size))
      custs.remove(id); located -= id
      Some(id)
    } else None

    var next = st.addVertices(custFrame(added))
      .addEdges(added.map { case (id, c) =>
        (id, c.nation + GraphStore.NationOff, "located_in") }
        .toDF("src", "dst", "label").withColumn("props", NoProps))
      .removeEdges(unlocate.map(id =>
          (id, custs(id).nation + GraphStore.NationOff, "located_in"))
        .toDF("src", "dst", "label"))
      .updateVertexProps(custFrame(flips).select("id", "props"))
    gone.foreach(id => next = next.removeVertices(Seq(id).toDF("id")))
    next
  }

  private def custFrame(rows: Seq[(Long, Cust)]): DataFrame = {
    val sp = spark; import sp.implicits._
    rows.map { case (id, c) => (id, c.name, c.acctbal, c.segment, c.nation) }
      .toDF("id", "name", "acctbal", "seg", "nation")
      .select(col("id"), lit("Customer").as("label"),
        map(lit("name"), PropValue.ofString(col("name")),
          lit("acctbal"), PropValue.ofFloat(col("acctbal")),
          lit("mktsegment"), PropValue.ofString(col("seg")),
          lit("nationkey"), PropValue.ofInt(col("nation"))).as("props"))
  }

  /** The view equals a direct MATCH of its definition on the final
    * store, as a bag of (a, b) id pairs.
    */
  override def finalCheck(report: Report): Unit = report.op(s"view $View equals MATCH") {
    def rows(df: DataFrame): Seq[(Long, Long)] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sorted
    val v = rows(catalog.dataOf(View).get.select("src", "dst"))
    val e = rows(GqlExecutor.run(store, s"$ViewGql RETURN id(a) AS a, id(b) AS b").df)
    if (v != e) System.err.println(s"[perfbench] view $View: ${v.size} rows vs MATCH " +
      s"${e.size}; only in view ${v.diff(e).take(3)}, only in MATCH ${e.diff(v).take(3)}")
    v == e
  }

  /** Replaced stores are not freed explicitly: view state may still
    * read them lazily, so their cuts go when the ContextCleaner
    * collects them.
    */
  def release(): Unit = {
    catalog.dataOf(View).foreach(_.unpersist())
    base.vertices.unpersist()
    base.edges.unpersist()
    catalog = null
    store = null
  }

  def perLayer(r: Report, t: Tracer): Unit = {
    val a = t.agg(s"views.refresh.$View")
    r.layer(s"views.refresh_ms.$View") = (a.meanMs, "ms")
    r.layer(s"views.jobs_per_refresh.$View") = (a.per(a.work.jobs), "count")
    r.layer(s"views.broadcast_jobs_per_refresh.$View") = (a.per(a.work.broadcastJobs), "count")
    r.layer("views.refresh_p90_ms") = (refreshes.pct(0.9), "ms")
    r.layer("views.shuffle_write_kb_per_refresh") = (a.per(a.work.shuffleWrite / 1024.0), "KB")
    r.layer("views.read_ms") = (t.agg("views.read").meanMs, "ms")
    r.layer("views.bootstrap_s") = (Samples.pct(bootstrapNs.map(_ / 1e9).toSeq, 0.5), "s")
    r.layer("graph.mutate_ms") = (t.agg("graph.mutate").meanMs, "ms")
    r.layer("graph.commit_ms") = (t.agg("graph.commit").meanMs, "ms")
    Analytics.values.foreach { span =>
      val j = t.agg(span)
      r.layer(s"$span.s") = (j.meanMs / 1e3, "s")
      if (span.startsWith("algorithms.")) {
        r.layer(s"$span.jobs") = (j.per(j.work.jobs), "count")
        r.layer(s"$span.task_cpu_frac") =
          (if (j.wallNs == 0) 0.0 else j.work.cpuNs.toDouble / j.wallNs / Main.Cores, "ratio")
      } else {
        r.layer(s"$span.shuffle_write_mb") = (j.per(j.work.shuffleWrite / 1048576.0), "MB")
        r.layer(s"$span.spill_mb") = (j.per(j.work.spill / 1048576.0), "MB")
      }
    }
  }
}

object ViewMaintain {
  final case class Cust(name: String, acctbal: Double, segment: String, nation: Long)

  /** The cross-variable WHERE class, the cheapest to refresh: only
    * balance flips and customer removals move it, so a refresh that
    * does O(store) work instead of O(delta) shows.
    */
  val View = "where_hop"
  val ViewGql: String = "MATCH (a:Customer)-[:placed]->(b:Order) " +
    "WHERE b.totalprice > a.acctbal * 40.0"

  /** Operator-pack entry → span name. Both have a non-empty result on
    * sf0.001, so their checksums check real output.
    */
  val Analytics: Map[String, String] = Map(
    "g11_scc" -> "algorithms.scc",
    "dedup_ngram_jaccard" -> "dedup.ngram_jaccard")
  /** (row count, XOR of xxhash64) of each entry's result on sf0.001,
    * as graft computed it before any change the benchmark measures.
    */
  val Expected: Map[String, (Long, Long)] = Map(
    "g11_scc" -> (10L, -3815220508134920735L),
    "dedup_ngram_jaccard" -> (28L, 544068254604316682L))
  val Cycle: Seq[String] = "batch" +: Analytics.keys.toSeq

  /** Enough reads that their median rides out the slower first reads
    * after a refresh.
    */
  val ReadsPerBatch = 15
  val AddPerBatch = 2
  val UnlocatePerBatch = 2
  val FlipsPerBatch = 4

  val NoProps = lit(null).cast(PropValue.mapType)
}
