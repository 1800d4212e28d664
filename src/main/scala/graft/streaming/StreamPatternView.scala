package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.graph.GraphStore
import graft.Lineage.CutOps
import graft.views.Views

/** Streaming maintenance of a registered MATCH-pattern view — the
  * ingest-side twin of `Views.refreshPatternView`, completing the
  * view family's stream side the way StreamIvf/StreamDedup complete
  * the index family's: graph mutations arrive as micro-batches, each
  * batch applies to the evolving store and the pattern view folds
  * forward at CHANGE-WINDOW cost via the composed signed Δ(V⋈E⋈V)
  * rule. The MATCH itself never re-runs; per-batch work scales with
  * the batch, never with V or E. Reference capability: the views
  * engine maintains registered views from its event stream
  * (graph/views/src/incremental_engine.rs:449-648) but RECOMPUTES
  * pattern views on refresh; this is the incremental form.
  *
  * Mutation-command schema per row:
  * `(op, id, label, src, dst, props)` with op ∈ add_vertex |
  * remove_vertex | update_vertex_props | add_edge | remove_edge |
  * update_edge_props — vertex ops read (id[, label][, props]), edge
  * ops read (src, dst, label[, props]), and each batch applies in
  * that FIXED op order (adds, then prop updates, then removals), so
  * a batch mixing ops on one key resolves deterministically. Prop
  * updates are REPLACE semantics like the store API — and with a
  * PREDICATED view definition (see [[StreamPatternView.fromGql]]) a
  * pure prop-update batch flips rows in and out of the view.
  *
  * Re-delivery: foreachBatch is at-least-once; a batchId at or below
  * the `<metaPath>/stream_meta` high-water mark is a NO-OP for both
  * the store and the view state (StreamMeta contract, shared with
  * the index maintainers). The mark is claimed BEFORE the fold (the
  * double-fold guard), and the fold runs inside a catalog batch
  * journal (r11): on ANY mid-fold failure the view state rolls back
  * to the pre-batch frames and the mark is restored, so
  * foreachBatch's in-JVM retry re-applies the batch idempotently —
  * the pre-r11 ordering permanently LOST the batch with no detection
  * signature. A JVM crash loses store + catalog + retry together
  * (all in-JVM state, external restart protocol unchanged); only a
  * double fault (rollback or mark-restore itself failing) degrades
  * to the old lose-the-batch behavior. The store reference evolves
  * inside the closure; `current()` exposes it for end-of-stream
  * reads.
  */
final class StreamPatternView private[graft] (initial: GraphStore,
    metaPath: String, catalog: Views.ViewCatalog,
    refreshFn: (GraphStore, GraphStore) => DataFrame) {

  /** K-hop label-chain form (label-only positions). */
  def this(initial: GraphStore, metaPath: String,
      catalog: Views.ViewCatalog, viewName: String,
      vertexLabels: Seq[String], edgeLabels: Seq[String]) =
    this(initial, metaPath, catalog,
      (o: GraphStore, n: GraphStore) =>
        // single-hop keeps the (src, dst) column contract; chains
        // carry positional c0..ck
        if (edgeLabels.size == 1)
          Views.refreshPatternView(catalog, viewName, o, n,
            vertexLabels(0), edgeLabels(0), vertexLabels(1))
        else Views.refreshPatternChainView(catalog, viewName, o, n,
          vertexLabels, edgeLabels))

  /** Single-hop convenience form. */
  def this(initial: GraphStore, metaPath: String,
      catalog: Views.ViewCatalog, viewName: String,
      srcLabel: String, edgeLabel: String, dstLabel: String) =
    this(initial, metaPath, catalog, viewName,
      Seq(srcLabel, dstLabel), Seq(edgeLabel))

  @volatile private var cur: GraphStore = initial

  /** The store as of the last applied batch. */
  def current(): GraphStore = cur

  private def applyBatch(batch: DataFrame): GraphStore = {
    val b = batch.cut(reliable = false) // read 6×, one tiny frame
    var st = cur
    val va = b.filter(col("op") === "add_vertex")
      .select(col("id"), col("label"), col("props"))
    if (va.limit(1).count() > 0) st = st.addVertices(va)
    val ea = b.filter(col("op") === "add_edge")
      .select(col("src"), col("dst"), col("label"), col("props"))
    if (ea.limit(1).count() > 0) st = st.addEdges(ea)
    val vu = b.filter(col("op") === "update_vertex_props")
      .select(col("id"), col("props"))
    if (vu.limit(1).count() > 0) st = st.updateVertexProps(vu)
    val eu = b.filter(col("op") === "update_edge_props")
      .select(col("src"), col("dst"), col("label"), col("props"))
    if (eu.limit(1).count() > 0) st = st.updateEdgeProps(eu)
    val er = b.filter(col("op") === "remove_edge")
      .select(col("src"), col("dst"), col("label"))
    if (er.limit(1).count() > 0) st = st.removeEdges(er)
    val vr = b.filter(col("op") === "remove_vertex").select(col("id"))
    if (vr.limit(1).count() > 0) st = st.removeVertices(vr)
    st.truncated().truncatedEdges()
  }

  /** Apply one mutation micro-batch and fold the view forward.
    * Returns the refreshed view rows, or None for a re-delivered
    * (already applied) batchId — in which case neither the store nor
    * the view state moves.
    */
  def applyAndRefresh(batch: DataFrame, batchId: Long): Option[DataFrame] = {
    val spark = batch.sparkSession
    val prev = StreamMeta.lastApplied(spark, metaPath)
    if (batchId <= prev) None
    else {
      // Claim the mark FIRST (double-fold guard), then fold inside a
      // catalog journal: refreshFn's puts (view + !state + sub-view
      // keys) are journaled, so a mid-fold failure rolls the view
      // state back to the pre-batch frames, restores the mark, and
      // rethrows — foreachBatch's in-JVM retry then re-applies the
      // batch idempotently from consistent state. `cur` only advances
      // after a committed fold, so the store side retries cleanly
      // too (GraphStore versions are immutable; a failed attempt's
      // intermediates are garbage, not state).
      StreamMeta.writeLastApplied(spark, metaPath, batchId)
      catalog.beginBatch()
      try {
        val next = applyBatch(batch)
        val view = refreshFn(cur, next)
        catalog.commitBatch()
        cur = next
        Some(view)
      } catch {
        case t: Throwable =>
          catalog.rollbackBatch()
          StreamMeta.writeLastApplied(spark, metaPath, prev)
          throw t
      }
    }
  }

  /** foreachBatch writer: apply each mutation micro-batch and fold
    * the view; `sink` receives the refreshed view rows (materialized
    * view content) per applied batch.
    */
  def writer(stream: DataFrame)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyAndRefresh(batch, batchId).foreach(view => sink(view, batchId))
    }
}

object StreamPatternView {

  /** Build a streaming maintainer from a GQL MATCH-chain definition
    * (the [[graft.gql.GqlViews]] contract: labels + inline props
    * blocks, which become the maintained predicates): registers the
    * view in the catalog and refreshes through the stored string, so
    * a predicated stream view flips rows on pure prop-update batches.
    */
  def fromGql(initial: GraphStore, metaPath: String,
      catalog: Views.ViewCatalog, viewName: String,
      gql: String): StreamPatternView = {
    graft.gql.GqlViews.register(catalog, viewName, gql)
    new StreamPatternView(initial, metaPath, catalog,
      (o, n) => graft.gql.GqlViews.refresh(catalog, viewName, o, n))
  }
}
