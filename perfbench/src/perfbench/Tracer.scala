package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into graft, plus Spark counters
  * attributed to those spans.
  *
  * A span carries the id of the operation it belongs to and its parent
  * span. While a span is open its id sits in the SparkContext local
  * property [[SpanKey]]; Spark copies local properties into every job
  * it starts from this thread, including the broadcast and AQE stage
  * jobs it runs on helper threads, so the listener can charge each
  * job, stage and task to the span that caused it. When tracing is
  * off no listener is registered and `span` only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[Int] = Nil
  private var opId: Long = 0L
  /** Client-thread time spent in the tracer's own bookkeeping and in
    * traced-only probes: what tracing adds to the operations it wraps.
    * The listeners run on Spark's listener-bus thread, not counted here.
    */
  var ownNs: Long = 0L

  private val listener = new Counters
  private val qeListener = new PlanTime
  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def newOp(): Long = { opId += 1; opId }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val t0 = System.nanoTime()
    val id = spans.size
    val rec = SpanRec(id, opId, name, stack.headOption.getOrElse(-1), 0L, 0L)
    spans += rec
    stack = id :: stack
    sc.setLocalProperty(SpanKey, id.toString)
    rec.start = System.nanoTime()
    ownNs += rec.start - t0
    try body
    finally {
      rec.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      ownNs += System.nanoTime() - rec.end
    }
  }

  /** A measurement only a traced run makes; its time counts as tracing
    * overhead.
    */
  def probe(body: => Unit): Unit = if (enabled) {
    val t0 = System.nanoTime()
    body
    ownNs += System.nanoTime() - t0
  }

  /** Wait until every event posted so far reached the listeners. */
  def drain(): Unit = if (enabled) SparkBus.drain(sc)

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def counters: Counters = listener
  def planNs: Long = qeListener.ns

  /** Aggregates over spans named `name`; Spark work includes the
    * spans' descendants.
    */
  def agg(name: String): SpanAgg = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    def work(id: Int, a: SpanAgg): Unit = {
      listener.bySpan.get(id).foreach(a.work.add)
      children.get(id).foreach(_.foreach(c => work(c.id, a)))
    }
    val ss = spans.filter(_.name == name)
    val a = SpanAgg(ss.size)
    ss.foreach { s =>
      a.wallNs += s.end - s.start
      work(s.id, a)
    }
    a
  }

  /** Self time per span name: duration minus the time its children
    * cover (children are sequential on the single client thread).
    */
  def selfNs: Map[String, Long] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start - childNs(s.id)).sum
    }
  }

  def toJson: String = {
    val self = selfNs
    val sb = new StringBuilder
    sb.append("{\"spans\": [")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      val c = listener.bySpan.get(s.id)
      sb.append(s"""{"id": ${s.id}, "op": ${s.op}, "name": "${s.name}", """ +
        s""""parent": ${s.parent}, "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
        s""""jobs": ${c.map(_.jobs).getOrElse(0)}, """ +
        s""""tasks": ${c.map(_.tasks).getOrElse(0)}}""")
    }
    sb.append("],\n\"self_ms\": {")
    sb.append(self.toSeq.sortBy(_._1).map { case (n, ns) =>
      s""""$n": ${ns / 1e6}""" }.mkString(", "))
    sb.append("}}\n")
    sb.toString
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class SpanRec(id: Int, op: Long, name: String, parent: Int,
      var start: Long, var end: Long)

  /** Spark work charged to a span. */
  final class Work {
    var jobs = 0L; var broadcastJobs = 0L; var stages = 0L; var tasks = 0L
    var runNs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L
    def add(w: Work): Unit = {
      jobs += w.jobs; broadcastJobs += w.broadcastJobs; stages += w.stages
      tasks += w.tasks; runNs += w.runNs; cpuNs += w.cpuNs; gcMs += w.gcMs
      shuffleRead += w.shuffleRead; shuffleWrite += w.shuffleWrite
      spill += w.spill; input += w.input
    }
  }

  final case class SpanAgg(count: Int) {
    var wallNs = 0L
    val work = new Work
    def per(x: Double): Double = if (count == 0) 0.0 else x / count
    def meanMs: Double = per(wallNs / 1e6)
  }

  private def isBroadcast(p: java.util.Properties): Boolean =
    p != null && Seq("spark.job.tags", "spark.job.description").exists { k =>
      Option(p.getProperty(k)).exists(_.contains("broadcast exchange"))
    }

  /** Job, stage and task counters per span, plus the wall intervals
    * during which at least one job ran.
    */
  final class Counters extends SparkListener {
    val bySpan = mutable.Map.empty[Int, Work]
    private val stageSpan = mutable.Map.empty[Int, Int]
    private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    private val jobStartMs = mutable.Map.empty[Int, Long]

    private def charge(span: Option[Int])(f: Work => Unit): Unit = synchronized {
      span.foreach(s => f(bySpan.getOrElseUpdate(s, new Work)))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt)
      synchronized {
        span.foreach(s => e.stageIds.foreach(st => stageSpan(st) = s))
        jobStartMs(e.jobId) = e.time
      }
      charge(span) { w =>
        w.jobs += 1
        if (isBroadcast(e.properties)) w.broadcastJobs += 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStartMs.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      charge(synchronized(stageSpan.get(e.stageInfo.stageId)))(_.stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      charge(synchronized(stageSpan.get(e.stageId))) { w =>
        w.tasks += 1
        w.runNs += m.executorRunTime * 1000000L
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.input += m.inputMetrics.bytesRead
      }
    }

    /** Share of [fromMs, toMs] covered by at least one running job. */
    def busyFrac(fromMs: Long, toMs: Long): Double = synchronized {
      val iv = jobIntervals.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      if (toMs > fromMs) covered.toDouble / (toMs - fromMs) else 0.0
    }
  }

  /** Catalyst time (analysis, optimization, planning) of each action. */
  final class PlanTime extends QueryExecutionListener {
    @volatile var ns = 0L
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      synchronized { ns += ms * 1000000L }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
