package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Lineage.{CutOps, cutCount}

/** The lineage-cut module: one place cuts lineage, and a counted cut
  * returns what an eager cut plus `count()` would, for fewer jobs.
  */
class LineageSpec extends SparkSpec {

  /** `src` with comments and string/char literals blanked (newlines
    * kept, so line numbers survive); `keepStrings` blanks comments
    * only. One left-to-right pass, so a quote inside a comment or a
    * `//` inside a string is consumed by the token that contains it.
    */
  private def codeOnly(src: String, keepStrings: Boolean = false): String =
    """(?s)/\*.*?\*/|//[^\n]*|'(?:\\.|[^'\\\n])'|"(?:\\.|[^"\\\n])*"""".r
      .replaceAllIn(src, m => scala.util.matching.Regex.quoteReplacement(
        if (keepStrings && !m.matched.startsWith("/")) m.matched
        else m.matched.replaceAll("[^\n]", " ")))

  private val cutCall = """\blocalCheckpoint\b|\.checkpoint\s*\(""".r

  private def cutCalls(f: java.io.File,
      call: scala.util.matching.Regex = cutCall,
      keepStrings: Boolean = false): Seq[String] = {
    val code = codeOnly(new String(java.nio.file.Files.readAllBytes(f.toPath),
      "UTF-8"), keepStrings)
    code.split("\n", -1).toSeq.zipWithIndex.collect {
      case (line, n) if call.findFirstIn(line).isDefined =>
        s"${f.getPath}:${n + 1}: ${line.trim}"
    }
  }

  private val mainRoot = new java.io.File("src/main/scala")

  private def mainFiles(): Seq[java.io.File] = {
    assert(mainRoot.isDirectory, s"run from the project root: $mainRoot")
    java.nio.file.Files.walk(mainRoot.toPath).toArray
      .map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(_.getName.endsWith(".scala")).toSeq
  }

  test("no src/main file other than Lineage.scala calls localCheckpoint " +
    "or checkpoint( in code") {
    val (lineage, others) = mainFiles().partition(_.getName == "Lineage.scala")
    // the scan is not vacuous: it sees the module's own calls
    assert(lineage.size == 1 && cutCalls(lineage.head).nonEmpty)
    // and it reads code, not comments or strings (Dedup's comments
    // name localCheckpoint)
    val dedup = new java.io.File(mainRoot, "graft/functions/Dedup.scala")
    assert(new String(java.nio.file.Files.readAllBytes(dedup.toPath), "UTF-8")
      .contains("localCheckpoint") && cutCalls(dedup).isEmpty)
    assert(codeOnly("a // x.checkpoint()\n/* localCheckpoint\n */ b '\"' " +
      "\"s3://localCheckpoint\" c.checkpoint(false)").split("\n")
      .map(cutCall.findAllIn(_).size).sum == 1)
    val offenders = others.flatMap(cutCalls(_))
    assert(offenders.isEmpty,
      "cut lineage through graft.Lineage:\n" + offenders.mkString("\n"))
  }

  test("no src/main file sets the session checkpoint dir in code") {
    // the dir is session-global: only the user sets it, once, and
    // every operator's reliable cuts follow it (Lineage.reliable)
    val setDir = """\bsetCheckpointDir\b""".r
    assert(codeOnly("sc.setCheckpointDir(d) // setCheckpointDir\n" +
      "\"setCheckpointDir\"").split("\n").map(setDir.findAllIn(_).size).sum == 1)
    val offenders = mainFiles().flatMap(cutCalls(_, setDir))
    assert(offenders.isEmpty,
      "the session checkpoint dir is the user's to set:\n" +
        offenders.mkString("\n"))
  }

  test("no src/main file other than Broadcast.scala reads the broadcast " +
    "threshold") {
    // one broadcast license: every count-gated hint and driver finish
    // asks graft.Broadcast, which alone turns the session's
    // autoBroadcastJoinThreshold into a row budget. The conf key in a
    // string literal counts as a read; a comment does not
    val threshold = """autoBroadcastJoinThreshold""".r
    assert(codeOnly("conf.autoBroadcastJoinThreshold // x\n" +
      "get(\"spark.sql.autoBroadcastJoinThreshold\") /* " +
      "autoBroadcastJoinThreshold */", keepStrings = true).split("\n")
      .map(threshold.findAllIn(_).size).sum == 2)
    val (module, others) = mainFiles().partition(_.getName == "Broadcast.scala")
    // the scan is not vacuous: it sees the module's own read
    assert(module.size == 1 &&
      cutCalls(module.head, threshold, keepStrings = true).nonEmpty)
    val offenders = others.flatMap(cutCalls(_, threshold, keepStrings = true))
    assert(offenders.isEmpty,
      "read the broadcast budget through graft.Broadcast:\n" +
        offenders.mkString("\n"))
  }

  private def bag(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("cutCount: the same bag and count as an eager cut plus count(); " +
    "one job locally, and a reliable cut writes the checkpoint") {
    // duplicate rows on purpose: a cut keeps the bag
    def frame = spark.range(0, 300, 1, 4)
      .select((col("id") % 17).as("k"), (col("id") % 5).as("v"))
      .filter(col("v") =!= 3)
    val ((eager, eagerN), eagerJobs) = jobsOf {
      val c = frame.cut(false); (c, c.count()) }
    val ((local, n), jobs) = jobsOf(cutCount(frame))
    assert(n == eagerN && n == 240L)
    assert(bag(local) == bag(eager))
    assert(jobs == 1, s"a local counted cut took $jobs jobs")
    assert(eagerJobs > jobs)
    // a cut frame reads the checkpoint, not the producer's plan
    assert(local.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))

    withCheckpointDir { dir =>
      assert(Lineage.reliable(spark))
      val relEager = frame.cut(true)
      val ((rel, relN), relJobs) = jobsOf(cutCount(frame, reliable = true))
      assert(relN == relEager.count() && relN == eagerN)
      assert(bag(rel) == bag(relEager) && bag(rel) == bag(eager))
      assert(relJobs <= 2, s"a reliable counted cut took $relJobs jobs")
      assert(java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .anyMatch(java.nio.file.Files.isRegularFile(_)),
        s"no checkpoint files under $dir")
    }
  }

  test("reliable cuts follow the session's checkpoint dir: SCC and " +
    "resolveDupClusters cut locally without one, write files with one, " +
    "and return the same rows") {
    import spark.implicits._
    val sc = spark.sparkContext
    val verts = (1L to 6L).map(Tuple1(_)).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 6L),
      (6L, 5L)).toDF("src", "dst")
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 5L), (3L, 4L)).toDF("ida", "idb")
    def pairsOf(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def scc() = graft.algorithms.Algorithms
      .stronglyConnectedComponents(verts, edges)
    def clusters() =
      graft.functions.Dedup.resolveDupClusters(docs, "doc_id", pairs)
    // no dir: every cut is local (a reliable cut would throw here)
    assert(sc.getCheckpointDir.isEmpty && !Lineage.reliable(spark))
    val (sccLocal, dupLocal) = (pairsOf(scc()), pairsOf(clusters()))
    assert(sccLocal == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L))
    assert(dupLocal == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 6L))
    withCheckpointDir { dir =>
      // listFiles, not Files.walk: the ContextCleaner may remove a
      // collected cut's files while the scan runs
      def files(f: java.io.File): Set[String] =
        Option(f.listFiles).toSeq.flatten.flatMap(c =>
          if (c.isFile) Set(c.getPath) else files(c)).toSet
      val root = new java.io.File(dir)
      assert(files(root).isEmpty)
      // each result is held while its files are listed: its plan
      // reads the last cuts, so the cleaner keeps their files
      val sccRel = scc()
      assert(pairsOf(sccRel) == sccLocal)
      val sccFiles = files(root)
      assert(sccFiles.nonEmpty, s"SCC wrote no checkpoint files under $dir")
      val dupRel = clusters()
      assert(pairsOf(dupRel) == dupLocal)
      assert((files(root) -- sccFiles).nonEmpty,
        s"resolveDupClusters wrote no checkpoint files under $dir")
    }
    assert(sc.getCheckpointDir.isEmpty && !Lineage.reliable(spark))
  }

  test("lazyCut: a stage that read the frame before it was materialized " +
    "reports its metrics without a DAGScheduler accumulator ERROR") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // the session first: starting it configures logging afresh
    val sc = spark.sparkContext
    val failed = new java.util.concurrent.atomic.AtomicInteger
    val appender = new AbstractAppender("lineage-accumulators", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains(
            "Failed to update accumulator")) failed.incrementAndGet()
    }
    appender.start()
    val log = LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler")
      .asInstanceOf[CoreLogger]
    log.addAppender(appender)
    LineageSpec.gate.set(new java.util.concurrent.CountDownLatch(1))
    LineageSpec.cached.set(0)
    try {
      // the marked plan is built here and dropped: only the cut frame
      // (and whatever the module pins to it) refers to it afterwards
      def marked() = Lineage.lazyCut(spark.range(0, 400, 1, 2)
        .select((col("id") % 7).as("k"), col("id").as("v"))
        .filter(col("v") =!= 5L))
      val lz = marked()
      // a stage reads the frame BEFORE it is materialized, so its task
      // binary carries the marked plan; its tasks cache their
      // partitions, then wait
      val reader = lz.queryExecution.toRdd.mapPartitions { it =>
        val rows = it.map(_.copy()).toArray
        LineageSpec.cached.incrementAndGet()
        LineageSpec.gate.get.await()
        rows.iterator
      }
      val job = scala.concurrent.Future(reader.count())(
        scala.concurrent.ExecutionContext.global)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (LineageSpec.cached.get < 2 && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(LineageSpec.cached.get == 2, "the reader's tasks never started")
      // another job materializes the frame: Spark marks the checkpoint
      // done and drops the marked plan from the RDD's lineage
      assert(Lineage.rowCount(lz) == 399L)
      for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
      LineageSpec.gate.get.countDown()
      assert(scala.concurrent.Await.result(job,
        scala.concurrent.duration.Duration(60, "s")) == 399L)
      org.apache.spark.graft.SparkTestAccess.flushListenerBus(sc)
      assert(failed.get == 0,
        s"${failed.get} accumulator updates failed after the frame's plan was collected")
    } finally {
      LineageSpec.gate.get.countDown()
      log.removeAppender(appender)
      appender.stop()
    }
  }
}

object LineageSpec {
  // JVM-global so the local-mode tasks above see the same instances
  val gate = new java.util.concurrent.atomic.AtomicReference(
    new java.util.concurrent.CountDownLatch(0))
  val cached = new java.util.concurrent.atomic.AtomicInteger
}
