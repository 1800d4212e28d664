package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with total + per-query
  * seconds. The timed action is a full-column checksum (xxhash64 of
  * every output column XOR-aggregated), NOT count() — see
  * `materialize` below for why count() times collapsed plans.
  *
  * Round-5 methodology — making cross-environment variance VISIBLE
  * (round 4's driver total was 2.5× the builder-local measurement
  * with no plan difference to blame, and nothing in the harness
  * could prove contention):
  *  - every query runs TWO timed passes back-to-back and reports the
  *    MIN (pass 1 absorbs Janino/codegen compilation and AQE plan
  *    finalization for that query's shapes; pass 2 is steady state —
  *    the heavyweight per-pack precompile loop this replaces warmed
  *    the same costs less precisely);
  *  - a fixed CANARY job (tiny static RDD count, no codegen, no
  *    shuffle) runs after every timed pass; its median and max land
  *    in the machine line. A quiet machine shows ~ms medians; a
  *    contended one shows inflated canaries next to inflated query
  *    times, separating environment noise from plan regressions;
  *  - (round 6) a fixed CPU-THROUGHPUT canary — a codegen BNLJ with
  *    FloatVecDot over two static vector frames, the same shape as
  *    the heaviest compute-bound queries — runs once per query;
  *    `cpu_canary_med`/`cpu_canary_max` land in the machine line.
  *    The scheduler canary bounds dispatch latency; this one bounds
  *    per-core compute speed, so a driver round can adjudicate a
  *    compute-bound swing (r5: dedup_embedding 4× driver-vs-local on
  *    identical code, flat scheduler canaries) without the builder's
  *    local record;
  *  - (round 8) a fixed I/O WRITE canary — ~1 MB fsync'd through the
  *    same file path shuffle spills and parquet commits use — runs
  *    once per query; `io_canary_med`/`io_canary_max` land in the
  *    machine line. The round-8 root-cause of r7's unflagged
  *    dedup_simhash band was an I/O-shaped episode BOTH existing
  *    canaries are blind to (they never touch storage); this one
  *    completes the triad: scheduler, CPU, storage.
  * Per-query pass detail (both passes, full precision, every canary
  * sample) is written to BENCH_LOCAL.json (override with
  * SPARK_GRAFT_BENCH_OUT) since the harness window only keeps the
  * final ~2000 chars of stdout.
  *
  * Round-8 addition — END-OF-RUN SELF-RE-MEASURE: the per-query
  * env_flagged adjudication has false negatives under INTERMITTENT
  * contention (three interleaved canary samples per query can all
  * land in quiet moments while the query's own passes were squeezed —
  * r7's driver run had g15_label_propagation at 11.3 s vs 4.1 s
  * isolated and dedup_best_survivor at 16.0 s vs 4.8 s, neither
  * flagged, and the judge had to re-run both by hand). So after the
  * main loop, any query whose min exceeds BOTH 1.5× AND +0.3 s over
  * the committed BENCH_LOCAL.json record (parsed at process start,
  * before this run overwrites it) gets ONE more isolated pass, taken
  * minutes later when a contention burst has typically passed, and
  * the machine line carries `"remeasured":{name:sec,...}` beside the
  * flag so a contended run adjudicates itself: a re-measure back near
  * the record is environmental; a re-measure that reproduces the
  * excess is a real change. Re-measure canary samples go to a
  * SEPARATE buffer — appending to the main one would break the
  * deterministic 2-per-query alignment env_flagged indexes by.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    // Session warmup, untimed: codegen plumbing + parquet footers + a
    // tiny shuffle, and the shared TPC-H graph projection (vertices +
    // edges persist) so its one-time build cost isn't charged to
    // whichever graph query runs first alphabetically. Per-query
    // compile costs are absorbed by pass 1 of that query's own
    // min-of-2 instead of a separate precompile loop.
    try {
      SparkEntry.queries.get("a1_agg").foreach(_(spark, sfDir).count())
      SparkEntry.entry(spark).count()
      val g = graft.graph.GraphStore.fromTpch(spark, sfDir)
      g.vertices.count()
      g.edges.count()
    } catch { case _: Throwable => () }

    // Contention canary: a fixed, codegen-free, shuffle-free job.
    // Its runtime is pure scheduler + executor-thread latency, so it
    // moves with machine load and not with any query plan.
    val canaryRdd = spark.sparkContext.parallelize(0 until 64, 4)
    canaryRdd.count() // materialize scheduling paths once, untimed
    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    def canary(): Unit = {
      val t0 = System.nanoTime()
      canaryRdd.count()
      canaries += (System.nanoTime() - t0) / 1e9
    }

    // CPU-THROUGHPUT canary: the scheduler canary bounds dispatch
    // latency but says nothing about per-core compute speed — round
    // 5's driver run recorded a pure-compute BNLJ query at 4× its
    // local time BESIDE flat scheduler canaries, and the harness
    // could not adjudicate the swing in-band. This job is the same
    // shape as that workload — a broadcast nested-loop join whose
    // condition is the codegen'd FloatVecDot over two STATIC
    // spark.range-derived float-vector frames (fully deterministic,
    // zero data dependence) — so its runtime tracks host CPU
    // throughput under the exact codegen path the heavy queries use.
    // Runs once per query (not per pass): ~98 samples interleaved
    // across the run is plenty for a median while adding seconds,
    // not tens of seconds, to the total.
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    import spark.implicits._
    // Vectors are generated DRIVER-SIDE with a fixed-seed LCG and ship
    // as LocalRelations: a spark.range + generated-expression form was
    // measured at ~260 ms/run dominated by re-OPTIMIZING its 128-array
    // expression tree on every action — driver planning, not the
    // executor throughput this canary exists to measure.
    val cpuDim = 64
    def cpuVecs(seed: Long, n: Int): Seq[Array[Float]] = {
      var s = seed
      def next(): Float = {
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40) % 1000).toFloat / 1000f
      }
      (0 until n).map(_ => Array.fill(cpuDim)(next()))
    }
    // parallelize (not repartition) pins 4 partitions without paying
    // a shuffle on every timed run
    val cpuLeft = spark.createDataset(
      spark.sparkContext.parallelize(cpuVecs(1L, 1024), 4)).toDF("va")
    val cpuRight = cpuVecs(2L, 512).toDF("vb")
    val cpuCanaryDf = cpuLeft.join(broadcast(cpuRight),
      graft.functions.VecExpressions.vecDot(spark, col("va"), col("vb"))
        > lit(17.0))
    // Time the REUSED physical RDD, not a fresh count(): a DataFrame
    // action pays ~0.2 s of fixed driver-side work (re-planning, AQE
    // stage setup, broadcast rebuild) that swamps the executor loop —
    // measured flat from 1k to 4M pairs. toRdd keeps one finalized
    // plan whose broadcast is built once, so each timed run is task
    // scheduling (~the scheduler canary) + the pure codegen BNLJ loop.
    val cpuCanaryRdd = cpuCanaryDf.queryExecution.toRdd
    cpuCanaryRdd.count() // untimed: Janino compile + broadcast build
    val cpuCanaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    def cpuCanary(): Unit = {
      val t0 = System.nanoTime()
      cpuCanaryRdd.count()
      cpuCanaries += (System.nanoTime() - t0) / 1e9
    }

    // I/O (WRITE) canary — round 8, closing the blind spot the
    // round-8 root-cause found: BOTH prior canaries are CPU/scheduler
    // probes, so an I/O-contended window (page-cache flush, a
    // co-tenant writing) inflates parquet-scan/shuffle-heavy queries
    // while every canary stays flat — exactly the shape of r7's
    // unflagged dedup_simhash 12-s band. This job writes ~1 MB of
    // fixed bytes through the same java.nio file path shuffle spills
    // and parquet commits use (a READ canary would only measure the
    // page cache). ~10-30 ms quiet; an I/O-squeezed machine shows it
    // inflated next to inflated query times. One sample per query,
    // same cadence as the cpu canary.
    val ioCanaryDir = java.nio.file.Files.createTempDirectory("graft_iocanary")
    val ioCanaryBytes = {
      var s = 3L
      Array.fill(1 << 20) {
        s = s * 6364136223846793005L + 1442695040888963407L
        (s >>> 56).toByte
      }
    }
    val ioCanaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    def ioCanary(): Unit = {
      val p = ioCanaryDir.resolve("blob")
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try { ch.write(java.nio.ByteBuffer.wrap(ioCanaryBytes)); ch.force(false) }
      finally ch.close()
      ioCanaries += (System.nanoTime() - t0) / 1e9
    }
    ioCanary(); ioCanaries.clear() // untimed warmup (dir entry, JIT)

    // Committed-record per-query entries for the end-of-run
    // self-re-measure and the merge-on-write below. Parsed BEFORE the
    // run: this same process rewrites BENCH_LOCAL.json on exit. The
    // per-query entries are `"name": [p1, p2, bool]` — written either
    // by this code (no whitespace) or by tools/bench_merge.py
    // (Python json.dump, space after `:` and `,`), so the regex is
    // whitespace-tolerant BETWEEN tokens. (The r11 driver run's empty
    // `remeasured` map traced to exactly this: the merged record's
    // json.dump spacing matched zero entries of the old tight regex,
    // so recordMins was empty and no suspect could ever qualify.)
    // The canary arrays (many elements, no bool) can't match it.
    val recordRaw: Map[String, (Double, Double, Boolean)] = try {
      val path = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_RECORD", "BENCH_LOCAL.json"))
      if (java.nio.file.Files.exists(path)) {
        val txt = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
        val re = ("\"([A-Za-z0-9_]+)\"\\s*:\\s*\\[\\s*([0-9.eE+-]+)\\s*," +
          "\\s*([0-9.eE+-]+)\\s*,\\s*(true|false)\\s*\\]").r
        re.findAllMatchIn(txt).map(m =>
          m.group(1) -> ((m.group(2).toDouble, m.group(3).toDouble,
            m.group(4) == "true"))).toMap
      } else Map.empty[String, (Double, Double, Boolean)]
    } catch { case _: Throwable => Map.empty[String, (Double, Double, Boolean)] }
    val recordMins: Map[String, Double] = recordRaw.collect {
      case (k, (p1, p2, true)) => k -> math.min(p1, p2)
    }

    // Optional comma-separated query filter for local iteration
    // (SPARK_GRAFT_ONLY=g1_pagerank,g11_scc); the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None => SparkEntry.queries
    }
    // (seconds, succeeded) — a failed pass must never win the min
    // (a fast-failing query would otherwise read as a phantom
    // speed-up in the machine line, with the error only on stderr
    // where the recording window never looks)
    // Materialize EVERY output column, not count(): under count()
    // Catalyst prunes all projections and can eliminate whole
    // subtrees — a unique-key left join whose payload is unused
    // drops entirely (measured: dedup_span_strip 0.18 s vs 2.7 s
    // real, range_join 0.47 s vs 2.6 s — both timed collapsed
    // plans). Hashing all columns into one aggregate forces the
    // full output through the plan for sub-ms driver-side cost;
    // map-typed columns cast to string (hash expressions reject
    // raw maps).
    def materialize(df: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.types.MapType
      val cols = df.schema.fields.map { f =>
        f.dataType match {
          case _: MapType => col(f.name).cast("string")
          case _ => col(f.name)
        }
      }
      df.select(xxhash64(cols: _*).as("__h"))
        .agg(count(lit(1)), expr("bit_xor(__h)")).head().getLong(0)
    }
    def timedPass(name: String,
                  fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      val t0 = System.nanoTime()
      val n = try materialize(fn(spark, sfDir)) catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1L
      } finally TransientCache.releaseAll()
      ((System.nanoTime() - t0) / 1e9, n >= 0)
    }
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (p1, ok1) = timedPass(name, fn); canary()
      val (p2, ok2) = timedPass(name, fn); canary(); cpuCanary(); ioCanary()
      // Untimed GC between queries: localCheckpoint blocks and shuffle
      // files are reclaimed by the ContextCleaner only after the JVM
      // collects the owning RDD reference — across ~190 passes the
      // unreclaimed state otherwise accumulates in the block manager
      // and tmp dirs and leaks one query's pressure into the next
      // (observed: a 3× slower second pass for the largest shuffle
      // query late in a full run, unreproducible in isolation).
      System.gc()
      // min over SUCCESSFUL passes; if both failed, report the worse
      // elapsed and flag the query in the machine line's failed list
      val successful = Seq(p1 -> ok1, p2 -> ok2).filter(_._2).map(_._1)
      val repr = if (successful.nonEmpty) successful.min else math.max(p1, p2)
      (name, p1, p2, repr, ok1 || ok2)
    }
    val mins = results.map { case (n, _, _, repr, _) => n -> repr }
    val failed = results.filter(!_._5).map(_._1)
    val total = mins.map(_._2).sum
    val p1Total = results.map(_._2).sum
    val p2Total = results.map(_._3).sum
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val canaryMed = med(canaries.toSeq)
    val canaryMax = if (canaries.isEmpty) 0.0 else canaries.max
    val cpuCanaryMed = med(cpuCanaries.toSeq)
    val cpuCanaryMax = if (cpuCanaries.isEmpty) 0.0 else cpuCanaries.max
    val ioCanaryMed = med(ioCanaries.toSeq)
    val ioCanaryMax = if (ioCanaries.isEmpty) 0.0 else ioCanaries.max

    // Per-query environmental adjudication (round 7): round 6's driver
    // record needed the judge to hand-align the canary sample arrays to
    // alphabetical run order to prove six dedup-pack "regressions" were
    // host contention. The alignment is deterministic — the run loop
    // takes exactly two scheduler-canary samples (after pass 1 and
    // pass 2) and one cpu-canary sample per query, in run order — so
    // the harness does it itself now. A query is env_flagged when any
    // of its three interleaved samples exceeds 5× that canary's run
    // median PLUS a 50 ms absolute excess (the floor keeps ~10 ms-
    // median scheduler jitter from flagging: 11 ms → 60 ms is noise,
    // 11 ms → 360 ms — r6's worst — is contention). Triage rule for
    // the round record: env_flagged swings are environmental;
    // UNflagged swings vs the previous round that are BOTH >1.5× AND
    // >0.3 s absolute are plan bugs. The absolute floor exists for
    // the same reason as the 50 ms canary floor: a 0.2 s query's
    // per-run spread is dominated by job-scheduling jitter that sits
    // BELOW the canaries' granularity, so a ratio-only rule would
    // demand root-causing noise (and the r5 variance study's "don't
    // chase sub-1.5× deltas" guidance applies doubly to sub-second
    // absolute ones).
    def envThresh(m: Double): Double = 5.0 * m + 0.05
    val envFlagged = results.indices.collect {
      case i if canaries.lift(2 * i).exists(_ > envThresh(canaryMed)) ||
        canaries.lift(2 * i + 1).exists(_ > envThresh(canaryMed)) ||
        cpuCanaries.lift(i).exists(_ > envThresh(cpuCanaryMed)) ||
        ioCanaries.lift(i).exists(_ > envThresh(ioCanaryMed)) =>
        results(i)._1
    }

    // END-OF-RUN SELF-RE-MEASURE (round 8, see header): one more
    // isolated pass for every query whose min exceeds BOTH 1.5× AND
    // +0.3 s over the committed record — the same triage thresholds
    // the round docs already apply, so anything the triage would have
    // to explain arrives pre-re-measured. Taken after the whole suite
    // (minutes later than the original passes), behind a gc and a
    // fresh canary sample, so an intermittent burst that squeezed the
    // original passes has usually moved on. Capped at 16 queries by
    // worst absolute excess — a machine contended enough to push more
    // than 16 queries past 1.5× is adjudicated by env_flagged_n
    // anyway, and an uncapped loop could double a bad run's length.
    // Canary samples taken here go to a SEPARATE buffer: the main
    // buffer's 2-per-query positional alignment is what env_flagged
    // indexes by.
    val remeasureCanaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    // r13 (r12 verdict #4a): each remeasure samples the FULL canary
    // triad itself, and a remeasure taken while its own canaries sit
    // outside the run's quiet band is flagged `remeasure_contended` —
    // a contended box was observed handing the triage an isolated
    // rerun WORSE than the in-run number (g23_modularity 13.1 →
    // "remeasured" 62.9 s, r12), which reads as a code regression
    // unless the rerun carries its own environment evidence.
    // Two ways in: (a) min exceeds the committed record by both triage
    // thresholds; (b) the query is env_flagged AND >5 s — a flagged
    // heavy query gets its isolated pass even when the record has no
    // entry (new query) or the excess sits under the record gate
    // (r11 verdict #2: every flagged >5 s query must arrive
    // pre-re-measured, not just the record-regressed ones).
    val envFlaggedSet = envFlagged.toSet
    val suspects = results.collect {
      case (name, _, _, repr, ok) if ok &&
        (recordMins.get(name).exists(r => repr > 1.5 * r && repr - r > 0.3) ||
          (envFlaggedSet(name) && repr > 5.0)) =>
        (name, repr - recordMins.getOrElse(name, 0.0))
    }.sortBy(-_._2)
    val remeasureCap = 16
    val remeasureContended = scala.collection.mutable.ArrayBuffer.empty[String]
    val remeasured: Seq[(String, Double)] =
      suspects.take(remeasureCap).map { case (name, _) =>
        System.gc()
        val t0 = System.nanoTime()
        canaryRdd.count()
        val schedC = (System.nanoTime() - t0) / 1e9
        remeasureCanaries += schedC
        val sec = timedPass(name, selected(name))._1
        val t1 = System.nanoTime()
        cpuCanaryRdd.count()
        val cpuC = (System.nanoTime() - t1) / 1e9
        ioCanary()
        val ioC = ioCanaries.remove(ioCanaries.size - 1) // triad-only sample
        if (schedC > envThresh(canaryMed) || cpuC > envThresh(cpuCanaryMed) ||
            ioC > envThresh(ioCanaryMed))
          remeasureContended += name
        name -> sec
      }
    val remeasureSkipped = suspects.size - remeasured.size

    // The harness that records this run keeps only the LAST ~2000
    // chars of output, so the machine-read line must be (a) the final
    // line printed and (b) short enough to fit that window whole.
    // Full precision + both passes go to BENCH_LOCAL.json; the final
    // line carries per-query MINs rounded to centiseconds and, if the
    // query list ever outgrows the window, folds the fastest queries
    // into one "other_N_fastest" bucket (the slow tail is what gets
    // audited). All formatting is Locale.ROOT — a locale-dependent
    // interpolator would emit comma decimals on non-US defaults,
    // breaking the machine parse.
    def fmt(v: Double): String = {
      val s = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      if (s.endsWith(".00")) s.dropRight(3)
      else if (s.endsWith("0")) s.dropRight(1) else s
    }
    def render(keep: Seq[(String, Double)], foldedN: Int, foldedSum: Double): String = {
      val entries = keep.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt(v) } ++
        (if (foldedN > 0) Seq("\"other_" + foldedN + "_fastest\":" + fmt(foldedSum)) else Nil)
      val qs = entries.mkString("{", ",", "}")
      // a heavily contended run can flag most of the suite, and a
      // broken build can fail most of it; neither name list may push
      // the machine line past the recording window (the fold loop
      // below only shrinks the queries map), so past 10 names the
      // line carries the COUNT and the full list stays in
      // BENCH_LOCAL.json — exactly the runs these fields were built
      // to adjudicate must keep a parseable line
      val failedField =
        if (failed.size > 10) s""","failed_n":${failed.size}"""
        else if (failed.isEmpty) ""
        else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
      // r14 (r13 verdict #2): the r13 driver run's diagnostic fields
      // (28 record_ratio entries + 12 env_flagged names + 16
      // remeasured entries) crowded the ~2000-char window and the
      // fold loop squeezed the queries map to ONE entry, blinding the
      // driver's per-query comparison (n_common = 1) and emptying the
      // scaling table. Diagnostics now fold BEFORE the queries map:
      // env_flagged goes count-only past 10 names, remeasured keeps
      // its 8 slowest entries + a count, record_ratio keeps its top 6
      // outliers + a count — the full maps all ride BENCH_DETAIL /
      // BENCH_LOCAL — and the queries fold loop keeps ≥ the 15
      // slowest per-query mins.
      val envField =
        if (envFlagged.size > 10)
          s""","env_flagged_n":${envFlagged.size}"""
        else envFlagged.map("\"" + _ + "\"")
          .mkString(""","env_flagged":[""", ",", "]")
      val remeasuredField =
        if (remeasured.isEmpty) ""
        else {
          val shown = remeasured.sortBy(-_._2).take(8)
          shown.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
            .mkString(""","remeasured":{""", ",", "}") +
            (if (remeasured.size > shown.size)
               s""","remeasured_more":${remeasured.size - shown.size}"""
             else "") +
            (if (remeasureContended.isEmpty) ""
             else if (remeasureContended.size > 8)
               s""","remeasure_contended_n":${remeasureContended.size}"""
             else remeasureContended.map("\"" + _ + "\"")
               .mkString(""","remeasure_contended":[""", ",", "]")) +
            (if (remeasureSkipped > 0) s""","remeasure_skipped":$remeasureSkipped""" else "")
        }
      // r13 (r12 verdict #4b): driver-min ÷ committed-record-min per
      // >5 s query, so a judge reads code-vs-environment from ONE
      // field — a uniform elevation is the box, a single outlier is
      // the plan. The line keeps the 6 LARGEST ratios (the outlier
      // read only needs the extremes) + a count; full map in
      // BENCH_DETAIL/BENCH_LOCAL.
      val recordRatioField = {
        val all = mins.collect {
          case (k, v) if v > 5.0 && recordMins.get(k).exists(_ > 0.0) =>
            (k, v / recordMins(k))
        }
        val entries = all.sortBy(-_._2).take(6)
          .map { case (k, r) => "\"" + k + "\":" + fmt(r) }
        if (entries.isEmpty) ""
        else entries.mkString(""","record_ratio":{""", ",", "}") +
          (if (all.size > entries.size)
             s""","record_ratio_more":${all.size - entries.size}"""
           else "")
      }
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec"""" +
        s""","queries":$qs,"passes":2,"p1_total":${fmt(p1Total)}""" +
        s""","p2_total":${fmt(p2Total)},"canary_med":${fmt(canaryMed)}""" +
        s""","canary_max":${fmt(canaryMax)}""" +
        s""","cpu_canary_med":${fmt(cpuCanaryMed)}""" +
        s""","cpu_canary_max":${fmt(cpuCanaryMax)}""" +
        s""","io_canary_med":${fmt(ioCanaryMed)}""" +
        s""","io_canary_max":${fmt(ioCanaryMax)}$envField$remeasuredField""" +
        s"""$recordRatioField$failedField,"sf":"$sfDir"}"""
    }

    def raw(v: Double): String = String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
    val detailQs = results.map { case (k, p1, p2, _, ok) =>
      "\"" + k + "\":[" + raw(p1) + "," + raw(p2) + "," +
        (if (ok) "true" else "false") + "]"
    }.mkString("{", ",", "}")
    // FULL record_ratio map (the machine line keeps only the top 6)
    val detailRatio = mins.collect {
      case (k, v) if v > 5.0 && recordMins.get(k).exists(_ > 0.0) =>
        "\"" + k + "\":" + raw(v / recordMins(k))
    }.mkString("{", ",", "}")
    val detail = s"""{"total":${raw(total)},"p1_total":${raw(p1Total)},""" +
      s""""p2_total":${raw(p2Total)},"queries":$detailQs,""" +
      s""""record_ratio":$detailRatio,""" +
      s""""canary":[${canaries.map(raw).mkString(",")}],""" +
      s""""cpu_canary":[${cpuCanaries.map(raw).mkString(",")}],""" +
      s""""io_canary":[${ioCanaries.map(raw).mkString(",")}],""" +
      s""""env_flagged":[${envFlagged.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""remeasured":{${remeasured.map { case (k, v) => "\"" + k + "\":" + raw(v) }.mkString(",")}},""" +
      s""""remeasure_canary":[${remeasureCanaries.map(raw).mkString(",")}],""" +
      s""""remeasure_contended":[${remeasureContended.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""sf":"$sfDir"}"""
    println(s"BENCH_DETAIL $detail")
    // The committed record is the FULL-suite sf0.1 run only: a
    // SPARK_GRAFT_ONLY-filtered run OR a non-sf0.1 smoke run must
    // never overwrite it (the round's env_flagged triage compares
    // against this file — an sf0.001 smoke total replacing the sf0.1
    // record would flag every query of the next real run).
    val defaultOut =
      if (only.isDefined || !sfDir.stripSuffix("/").endsWith("sf0.1"))
        "BENCH_LOCAL_partial.json"
      else "BENCH_LOCAL.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    // MERGE-ON-WRITE for the record path (r12): BENCH_LOCAL.json gets
    // per-query min(committed record, this run) under the r11 merge
    // protocol (keep the [p1,p2,ok] triple of whichever run's
    // successful min is smaller; canaries from this run) — a
    // contended driver run can then never clobber the converged
    // local-min record the next run's remeasure triage reads (the r11
    // driver run replaced the 303 s nine-run record with its own
    // 470 s values, which would have halved the next round's suspect
    // set). Raw this-run detail still lands beside it in
    // BENCH_RUN_LAST.json for bench_merge/debugging.
    val isRecordPath = outPath == "BENCH_LOCAL.json"
    val mergedDetail = if (!isRecordPath || recordRaw.isEmpty) detail else {
      def mn(e: (Double, Double, Boolean)): Double =
        if (e._3) math.min(e._1, e._2) else Double.PositiveInfinity
      val runMap = results.map { case (k, p1, p2, _, ok) =>
        k -> ((p1, p2, ok)) }.toMap
      // merge over the UNION of keys: record entries for queries this
      // run didn't select must survive (a filtered run explicitly
      // routed to the record path would otherwise erase the converged
      // multi-run floor for every unselected query); record entries
      // whose query no longer EXISTS are dropped — a renamed/removed
      // query must not haunt the totals forever
      val liveRecord = recordRaw.filter { case (k, _) =>
        SparkEntry.queries.contains(k) }
      // exhaustive over the three reachable shapes (keys come from
      // the union of the two maps, so both-None cannot occur; a
      // fabricated (0,0,false) entry would silently deflate the
      // merged totals — r12 ADVICE)
      val mergedMap = (runMap.keySet ++ liveRecord.keySet).map { k =>
        (runMap.get(k), liveRecord.get(k)) match {
          case (Some(e), Some(r)) => k -> (if (mn(r) < mn(e)) r else e)
          case (Some(e), None) => k -> e
          case (None, r) => k -> r.getOrElse(
            throw new IllegalStateException(s"merge key $k in neither map"))
        }
      }.toMap
      val merged = mergedMap.toSeq.sortBy(_._1)
      val mq = merged.map { case (k, (p1, p2, ok)) =>
        "\"" + k + "\":[" + raw(p1) + "," + raw(p2) + "," +
          (if (ok) "true" else "false") + "]"
      }.mkString("{", ",", "}")
      val mTotal = merged.map(e => mn(e._2)).filter(_.isFinite).sum
      s"""{"total":${raw(mTotal)},""" +
        s""""p1_total":${raw(merged.map(_._2._1).sum)},""" +
        s""""p2_total":${raw(merged.map(_._2._2).sum)},"queries":$mq,""" +
        s""""record_ratio":$detailRatio,""" +
        s""""canary":[${canaries.map(raw).mkString(",")}],""" +
        s""""cpu_canary":[${cpuCanaries.map(raw).mkString(",")}],""" +
        s""""io_canary":[${ioCanaries.map(raw).mkString(",")}],""" +
        // this-run facts ride the merged record like the canaries do
        // (r12 ADVICE: hardcoded empties dropped the run's remeasure
        // evidence from the record file)
        s""""env_flagged":[${envFlagged.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""remeasured":{${remeasured.map { case (k, v) =>
          "\"" + k + "\":" + raw(v) }.mkString(",")}},""" +
        s""""remeasure_canary":[${remeasureCanaries.map(raw).mkString(",")}],""" +
        s""""remeasure_contended":[${remeasureContended.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""merged_from":["record","run"],"sf":"$sfDir"}"""
    }
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (mergedDetail + "\n").getBytes("UTF-8"))
      if (isRecordPath)
        java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_RUN_LAST.json"),
          (detail + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }

    val budget = 1800
    var line = render(mins, 0, 0.0)
    if (line.length > budget) {
      val byTime = mins.sortBy(-_._2)
      var keepN = byTime.length
      // floor at the 15 slowest (r13 verdict #2): with the diagnostic
      // fields capped above, 15 query entries + every capped field
      // fits the window with slack; a per-query map thinner than this
      // blinds the driver's round-over-round comparison, which is
      // worth more than any diagnostic
      while (keepN > 15 && line.length > budget) {
        keepN -= 1
        val (keep, fold) = byTime.splitAt(keepN)
        line = render(keep, fold.length, fold.map(_._2).sum)
      }
    }
    spark.stop()
    try {
      java.nio.file.Files.deleteIfExists(ioCanaryDir.resolve("blob"))
      java.nio.file.Files.deleteIfExists(ioCanaryDir)
    } catch { case _: Throwable => () }
    println(line)
    System.out.flush()
  }
}
