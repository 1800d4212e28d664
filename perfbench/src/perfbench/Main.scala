package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: set up the workload several times (each time in
  * a fresh Spark session), run its closed loop for the given seconds,
  * check its outputs, and print one JSON line of metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR [--setups K] [--trace-out FILE]
  */
object Main {
  /** Spark task threads. local[2] leaves the other cores of a 4-core
    * box to the driver thread, JIT and GC; in trial runs set-ups spread
    * less, and view batches ran no faster, than with local[4].
    */
  val Cores = 2

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, setups: Int, traceOut: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), kv.get("setups").map(_.toInt).getOrElse(3),
      kv.get("trace-out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl: Workload = a.workload match {
      case "gql_session" => new GqlSession(a.seed)
      case "view_maintain" => new ViewMaintain(a.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val report = new Report

    // Set-up, timed several times, each in a fresh session with a data
    // path spelled differently, so no per-path cache carries over.
    val setupNs = mutable.ArrayBuffer.empty[Long]
    var spark: SparkSession = null
    (0 until a.setups).foreach { k =>
      if (spark != null) { wl.release(); spark.stop() }
      val dir = if (k == 0) a.data else a.data + "/" + "./" * (k - 1)
      val t0 = System.nanoTime()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      spark = GraftSession.local(Cores)
      wl.setup(spark, dir)
      setupNs += System.nanoTime() - t0
      log(f"set-up ${k + 1}: ${setupNs.last / 1e9}%.2f s")
    }
    wl.prepareChecks(spark)
    wl.attach(new Tracer(spark, false))
    val (_, warmNs) = Timed(wl.warmUp())
    log(f"warm-up: ${warmNs / 1e9}%.2f s")
    val tracer = new Tracer(spark, a.trace)
    wl.attach(tracer)

    val host0 = Host.sample()
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    var i = 0
    val opNs = mutable.ArrayBuffer.empty[Long]
    while (i < wl.cycle || System.nanoTime() < deadline) {
      opNs += Timed(wl.step(report))._2
      i += 1
    }
    val wallNs = System.nanoTime() - t0
    val host1 = Host.sample()
    val wallMs = (System.currentTimeMillis() - wallNs / 1000000L, System.currentTimeMillis())
    log(f"measured: $i operations in ${wallNs / 1e9}%.2f s")
    tracer.drain()
    val planNs = tracer.planNs
    val (_, checkNs) = Timed(wl.finalCheck(report))
    log(f"final check: ${checkNs / 1e9}%.2f s")

    report.e2e("setup_s") = (Samples.pct(setupNs.map(_ / 1e9).toSeq, 0.5), "s")
    val lat = wl.latencies
    // completed operations per second of the one client, over the
    // whole cycles it ran, so where a run stops in a cycle does not move it
    val whole = i / wl.cycle * wl.cycle
    report.e2e("ops_per_s") = (whole * 1e9 / opNs.take(whole).sum, "1/s")
    report.e2e("read_p50_ms") = (lat.readP50, "ms")
    report.e2e("write_p50_ms") = (lat.writes.pct(0.5), "ms")
    if (a.trace) {
      report.layer("run.op_p90_ms") = (lat.opP90, "ms")
      report.layer("run.read_p90_ms") = (lat.readP90, "ms")
      report.layer("run.write_p90_ms") = (lat.writes.pct(0.9), "ms")
      wl.perLayer(report, tracer)
      // a layer this workload does not run did no work there
      LayerNames.foreach { case (n, u) =>
        if (!report.layer.contains(n)) report.layer(n) = (0.0, u) }
      sparkLayer(report, tracer, planNs, i, wallMs)
      report.layer("trace.overhead_pct") = (tracer.ownNs * 100.0 / wallNs, "%")
      report.layer("host.cpu_per_wall") = (Host.cpuPerWall(host0, host1), "ratio")
      report.layer("host.proc_cpu_per_wall") = (Host.procCpuPerWall(host0, host1), "ratio")
      report.layer("host.steal_per_wall") = (Host.stealPerWall(host0, host1), "ratio")
      report.layer("host.load1") = (host1.load1, "count")
      report.layer("run.error_rate") =
        (report.failed.toDouble / math.max(report.attempted, 1), "ratio")
    }
    tracer.close()
    wl.release()
    if (a.trace) report.layer("spark.persisted_end_mb") = (persistedMb(spark), "MB")
    a.traceOut.filter(_ => a.trace).foreach { p =>
      Files.write(Paths.get(p), tracer.toJson.getBytes("UTF-8"))
    }
    spark.stop()

    if (report.failures.nonEmpty)
      System.err.println("[perfbench] failures: " + report.failures.mkString("; "))
    val metrics = if (a.trace) report.layer else report.e2e
    println(Json.result(report.failed == 0 && wl.setupOk, report.attempted,
      report.failed, metrics.toSeq))
  }

  /** Per-layer metrics of the workload-specific layers, with units. */
  val LayerNames: Seq[(String, String)] =
    Seq("gql.parse_ms" -> "ms", "gql.build_ms" -> "ms", "gql.action_ms" -> "ms",
      "gql.jobs_per_read" -> "count", "gql.jobs_per_write" -> "count",
      "gql.write_plan_nodes" -> "count", "graph.mutate_ms" -> "ms",
      "graph.commit_ms" -> "ms",
      s"views.refresh_ms.${ViewMaintain.View}" -> "ms",
      s"views.jobs_per_refresh.${ViewMaintain.View}" -> "count",
      s"views.broadcast_jobs_per_refresh.${ViewMaintain.View}" -> "count",
      "views.refresh_p90_ms" -> "ms", "views.shuffle_write_kb_per_refresh" -> "KB",
      "views.read_ms" -> "ms", "views.bootstrap_s" -> "s") ++
    ViewMaintain.Analytics.values.toSeq.flatMap { span =>
      if (span.startsWith("algorithms."))
        Seq(s"$span.s" -> "s", s"$span.jobs" -> "count", s"$span.task_cpu_frac" -> "ratio")
      else Seq(s"$span.s" -> "s", s"$span.shuffle_write_mb" -> "MB", s"$span.spill_mb" -> "MB")
    }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Spark work per traced operation, plus the job-busy share of the
    * measured wall time.
    */
  private def sparkLayer(r: Report, t: Tracer, planNs: Long, ops: Int,
      wallMs: (Long, Long)): Unit = {
    val c = t.counters
    val w = new Tracer.Work
    val n = math.max(t.spans.filter(_.parent < 0).map(_.op).distinct.size, 1)
    c.bySpan.values.foreach(w.add)
    val mb = 1048576.0
    r.layer("catalyst.plan_ms") = (planNs / 1e6 / math.max(ops, 1), "ms")
    r.layer("spark.jobs") = (w.jobs.toDouble / n, "count")
    r.layer("spark.stages") = (w.stages.toDouble / n, "count")
    r.layer("spark.tasks") = (w.tasks.toDouble / n, "count")
    r.layer("spark.broadcast_jobs") = (w.broadcastJobs.toDouble / n, "count")
    r.layer("spark.job_busy_frac") = (c.busyFrac(wallMs._1, wallMs._2), "ratio")
    r.layer("spark.task_run_s") = (w.runNs / 1e9 / n, "s")
    r.layer("spark.task_cpu_s") = (w.cpuNs / 1e9 / n, "s")
    r.layer("spark.gc_s") = (w.gcMs / 1e3 / n, "s")
    r.layer("spark.shuffle_read_mb") = (w.shuffleRead / mb / n, "MB")
    r.layer("spark.shuffle_write_mb") = (w.shuffleWrite / mb / n, "MB")
    r.layer("spark.spill_mb") = (w.spill / mb / n, "MB")
    r.layer("spark.input_mb") = (w.input / mb / n, "MB")
  }

  /** Storage the session still holds once the workload released what
    * it owns and a GC let the ContextCleaner drop unreferenced blocks.
    */
  private def persistedMb(spark: SparkSession): Double = {
    System.gc()
    Thread.sleep(500)
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
  }
}

/** Host CPU and load, to tell a contended run from a slow one. */
object Host {
  final case class Sample(wallNs: Long, hostBusyTicks: Long, stealTicks: Long,
      procCpuNs: Long, load1: Double)

  private val os = ManagementFactory.getOperatingSystemMXBean
  private val TicksPerS = 100.0

  def sample(): Sample = {
    val (busy, steal) = try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal [guest guest_nice],
        // guest time already counted in user and nice
        (xs.take(7).sum - xs(3) - xs(4), xs(7))
      } finally f.close()
    } catch { case _: Exception => (0L, 0L) }
    val proc = os match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }
    Sample(System.nanoTime(), busy, steal, proc, os.getSystemLoadAverage)
  }

  def cpuPerWall(a: Sample, b: Sample): Double =
    (b.hostBusyTicks - a.hostBusyTicks) / TicksPerS / ((b.wallNs - a.wallNs) / 1e9)
  /** CPU time the hypervisor gave other guests, per second of wall. */
  def stealPerWall(a: Sample, b: Sample): Double =
    (b.stealTicks - a.stealTicks) / TicksPerS / ((b.wallNs - a.wallNs) / 1e9)
  def procCpuPerWall(a: Sample, b: Sample): Double =
    (b.procCpuNs - a.procCpuNs).toDouble / (b.wallNs - a.wallNs)
}

/** The result line this program prints. */
object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
