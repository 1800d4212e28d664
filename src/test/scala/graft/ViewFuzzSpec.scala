package graft

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.DataFrame
import graft.gql.{GqlExecutor, GqlViews}
import graft.graph.GraphStore
import graft.graph.GraphStore.propsMap
import graft.views.Views

/** Randomized differential test for the incrementally maintained
  * pattern views: every view class is registered through the GQL
  * front door, folded through random mutation batches, and compared
  * after every refresh with a direct `GqlExecutor` MATCH of its
  * definition on the new store. Every third batch runs inside a
  * catalog batch that is rolled back; the restored rows must equal
  * the pre-batch answer, and the next refresh, from the pre-batch
  * store, must still be exact.
  */
object ViewFuzzSpec {
  /** One registered view: its definition, the node variables its
    * rows bind, and whether rows compare as a bag (fixed-length
    * classes keep multiplicities) or a set (var-length and reach
    * classes serve distinct endpoint pairs).
    */
  case class Def(name: String, gql: String, vars: Seq[String], bag: Boolean)

  /** The composed class, one sub-state kind per seed: bounded walk
    * counts, the `*1..` closure, and the `*2..` walk x closure
    * composition.
    */
  val Composed: Seq[String] = Seq(
    "MATCH (a:A)-[:y*1..2]->(b:A)-[:x]->(c:B)",
    "MATCH (a:B)-[:x]->(b:B)-[:y*1..]->(c:A)",
    "MATCH (a:A)-[:y*2..]->(b:A)-[:x]->(c:B)")

  def defs(seedIndex: Int): Seq[Def] = Seq(
    Def("hop", "MATCH (a:A)-[:x]->(b:B)", Seq("a", "b"), bag = true),
    Def("props", "MATCH (a:A {w: 1})-[:x {m: 1}]->(b:B)",
      Seq("a", "b"), bag = true),
    Def("chain", "MATCH (a:A)-[:x]->(b:B)-[:y]->(c:A)",
      Seq("a", "b", "c"), bag = true),
    Def("undir", "MATCH (a:A)-[:y]-(b:A)", Seq("a", "b"), bag = true),
    Def("vl", "MATCH (a:A)-[:y*1..3]->(b:A)", Seq("a", "b"), bag = false),
    Def("vl_undir", "MATCH (a:A)-[:x*1..2]-(b:B)", Seq("a", "b"),
      bag = false),
    Def("reach", "MATCH (a:A)-[:y*1..]->(b:A)", Seq("a", "b"), bag = false),
    Def("reach_undir", "MATCH (a:A)-[:y*2..]-(b:B)", Seq("a", "b"),
      bag = false),
    Def("reach2", "MATCH (a:A)-[:y*2..]->(b:B)", Seq("a", "b"), bag = false),
    Def("composed", Composed(seedIndex % Composed.size),
      Seq("a", "b", "c"), bag = false),
    Def("where_hop", "MATCH (a:A)-[e:x]->(b:B) WHERE a.w >= b.w AND e.m < 2",
      Seq("a", "b"), bag = true),
    Def("where_chain",
      "MATCH (a:A)-[:x]->(b:B)-[:y]->(c:A) WHERE a.w > b.w AND b.w <= c.w",
      Seq("a", "b", "c"), bag = true))

  val Seeds: Seq[Int] = Seq(11, 23, 47)
  val Batches = 4
  val OpsPerBatch = 4
  val MaxId = 14L

  type Rows = Map[List[Long], Int]
}

class ViewFuzzSpec extends SparkSpec {
  import ViewFuzzSpec._
  import spark.implicits._

  /** The driver-side mirror of the store: which ids are live (with
    * label and `w`) and which edge keys exist (with `m`) — what the
    * generator needs to pick valid mutation targets.
    */
  private final class Model(rnd: Random) {
    val vs = mutable.LinkedHashMap[Long, (String, Int)]()
    val es = mutable.LinkedHashMap[(Long, Long, String), Int]()
    def label(): String = if (rnd.nextBoolean()) "A" else "B"
    def elabel(): String = if (rnd.nextBoolean()) "x" else "y"
    def liveIds: IndexedSeq[Long] = vs.keys.toIndexedSeq
    def pick[T](xs: IndexedSeq[T]): Option[T] =
      if (xs.isEmpty) None else Some(xs(rnd.nextInt(xs.size)))
  }

  private def snapshot(st: GraphStore): GraphStore =
    new GraphStore(st.vertices.localCheckpoint(), st.edges.localCheckpoint(),
      st.changes.localCheckpoint(), st.version)

  private def initial(m: Model, rnd: Random): GraphStore = {
    (1L to 12L).foreach(id => m.vs(id) = (m.label(), rnd.nextInt(3)))
    while (m.es.size < 20) {
      val s = 1L + rnd.nextInt(12)
      val d = 1L + rnd.nextInt(12)
      m.es((s, d, m.elabel())) = rnd.nextInt(3)
    }
    snapshot(GraphStore.fromTuples(spark,
      m.vs.toSeq.map { case (id, (l, w)) => (id, l, Seq("w" -> w)) },
      m.es.toSeq.map { case ((s, d, l), w) => (s, d, l, Seq("m" -> w)) }))
  }

  /** Apply one random op to `st` (mirrored in `m`); returns the new
    * store and a description for failure messages.
    */
  private def randomOp(st: GraphStore, m: Model, rnd: Random)
      : (GraphStore, String) = rnd.nextInt(6) match {
    case 0 =>
      m.pick((1L to MaxId).filterNot(m.vs.contains)) match {
        case Some(id) =>
          val (l, w) = (m.label(), rnd.nextInt(3))
          m.vs(id) = (l, w)
          (st.addVertices(Seq((id, l)).toDF("id", "label")
            .withColumn("props", propsMap("w" -> w))), s"add_vertex $id:$l w=$w")
        case None => (st, "add_vertex (none free)")
      }
    case 1 =>
      m.pick(m.liveIds) match {
        case Some(id) =>
          m.vs.remove(id)
          m.es.keys.filter(k => k._1 == id || k._2 == id).toSeq
            .foreach(m.es.remove)
          (st.removeVertices(Seq(id).toDF("id")), s"remove_vertex $id")
        case None => (st, "remove_vertex (none live)")
      }
    case 2 =>
      // a third of the adds re-add an existing key (a duplicate the
      // feed logs as add_edge); self-loops arise from s == d
      val existing = if (rnd.nextInt(3) == 0) m.pick(m.es.keys.toIndexedSeq)
        else None
      val key = existing.orElse(for {
        s <- m.pick(m.liveIds); d <- m.pick(m.liveIds)
      } yield (s, d, m.elabel()))
      key match {
        case Some((s, d, l)) =>
          val w = rnd.nextInt(3)
          m.es((s, d, l)) = w
          (st.addEdges(Seq((s, d, l)).toDF("src", "dst", "label")
            .withColumn("props", propsMap("m" -> w))),
            s"add_edge $s-$l->$d m=$w")
        case None => (st, "add_edge (no vertex)")
      }
    case 3 =>
      m.pick(m.es.keys.toIndexedSeq) match {
        case Some((s, d, l)) =>
          m.es.remove((s, d, l))
          (st.removeEdges(Seq((s, d, l)).toDF("src", "dst", "label")),
            s"remove_edge $s-$l->$d")
        case None => (st, "remove_edge (none)")
      }
    case 4 =>
      m.pick(m.liveIds) match {
        case Some(id) =>
          val w = rnd.nextInt(3)
          m.vs(id) = (m.vs(id)._1, w)
          (st.updateVertexProps(Seq(id).toDF("id")
            .withColumn("props", propsMap("w" -> w))), s"set $id.w=$w")
        case None => (st, "set vertex (none live)")
      }
    case _ =>
      m.pick(m.es.keys.toIndexedSeq) match {
        case Some((s, d, l)) =>
          val w = rnd.nextInt(3)
          m.es((s, d, l)) = w
          (st.updateEdgeProps(Seq((s, d, l)).toDF("src", "dst", "label")
            .withColumn("props", propsMap("m" -> w))), s"set $s-$l->$d.m=$w")
        case None => (st, "set edge (none)")
      }
  }

  private def collectRows(df: DataFrame, cols: Seq[String], bag: Boolean)
      : Rows = {
    val rows = df.select(cols.head, cols.tail: _*).collect()
      .map(r => cols.indices.map(r.getLong).toList)
    if (bag) rows.groupBy(identity).map { case (k, v) => k -> v.length }
    else rows.distinct.map(_ -> 1).toMap
  }

  private def viewCols(d: Def): Seq[String] =
    if (d.vars.size == 2) Seq("src", "dst") else d.vars.indices.map(i => s"c$i")

  private def expected(st: GraphStore, d: Def): Rows = {
    val ret = d.vars.map(v => s"id($v) AS $v").mkString(", ")
    collectRows(GqlExecutor.run(st, s"${d.gql} RETURN $ret").df, d.vars, d.bag)
  }

  private def check(got: Rows, want: Rows, what: => String): Unit =
    assert(got == want, s"$what: only in view " +
      s"${(got.toSet -- want.toSet).take(5)}, only in MATCH " +
      s"${(want.toSet -- got.toSet).take(5)}")

  private def runSeed(seed: Int, views: Seq[Def]): Unit = {
    val rnd = new Random(seed)
    val m = new Model(rnd)
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_fuzz").toString)
    var store = initial(m, rnd)
    views.foreach(d => GqlViews.register(cat, d.name, d.gql))
    // the first refresh bootstraps each view from the initial store
    // and folds batch 0 into it in the same call
    var answers = Map.empty[String, Rows]
    for (b <- 0 until Batches) {
      val mirror = (m.vs.clone(), m.es.clone())
      var next = store
      val ops = (1 to OpsPerBatch).map { _ =>
        val (st, op) = randomOp(next, m, rnd)
        next = st
        op
      }
      next = snapshot(next)
      val rolledBack = b % 3 == 2
      if (rolledBack) cat.beginBatch()
      val fresh = views.map { d =>
        val want = expected(next, d)
        check(collectRows(GqlViews.refresh(cat, d.name, store, next),
            viewCols(d), d.bag), want,
          s"seed $seed batch $b [${ops.mkString("; ")}] ${d.name}")
        d.name -> want
      }.toMap
      if (rolledBack) {
        cat.rollbackBatch()
        views.foreach(d => check(
          collectRows(cat.dataOf(d.name).get, viewCols(d), d.bag),
          answers(d.name), s"seed $seed batch $b rollback ${d.name}"))
        // the store stays pre-batch; so does the generator's mirror
        m.vs.clear(); m.vs ++= mirror._1
        m.es.clear(); m.es ++= mirror._2
      } else {
        store = next
        answers = fresh
      }
    }
  }

  test("randomized view maintenance: every GQL view class equals a MATCH " +
    "recompute after every refresh, across mutation batches and rollbacks") {
    val t0 = System.nanoTime()
    Seeds.zipWithIndex.foreach { case (seed, i) => runSeed(seed, defs(i)) }
    info(f"${Seeds.size} seeds x $Batches batches x ${defs(0).size} views " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
