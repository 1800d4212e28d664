package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Lineage.{CutOps, cutCount}

/** The lineage-cut module: one place cuts lineage, and a counted cut
  * returns what an eager cut plus `count()` would, for fewer jobs.
  */
class LineageSpec extends SparkSpec {

  /** `src` with comments and string/char literals blanked (newlines
    * kept, so line numbers survive). One left-to-right pass, so a
    * quote inside a comment or a `//` inside a string is consumed by
    * the token that contains it.
    */
  private def codeOnly(src: String): String =
    """(?s)/\*.*?\*/|//[^\n]*|'(?:\\.|[^'\\\n])'|"(?:\\.|[^"\\\n])*"""".r
      .replaceAllIn(src, m => scala.util.matching.Regex.quoteReplacement(
        m.matched.replaceAll("[^\n]", " ")))

  private val cutCall = """\blocalCheckpoint\b|\.checkpoint\s*\(""".r

  private def cutCalls(f: java.io.File): Seq[String] = {
    val code = codeOnly(new String(java.nio.file.Files.readAllBytes(f.toPath),
      "UTF-8"))
    code.split("\n", -1).toSeq.zipWithIndex.collect {
      case (line, n) if cutCall.findFirstIn(line).isDefined =>
        s"${f.getPath}:${n + 1}: ${line.trim}"
    }
  }

  test("no src/main file other than Lineage.scala calls localCheckpoint " +
    "or checkpoint( in code") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    val files = java.nio.file.Files.walk(root.toPath).toArray
      .map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(_.getName.endsWith(".scala")).toSeq
    val (lineage, others) = files.partition(_.getName == "Lineage.scala")
    // the scan is not vacuous: it sees the module's own calls
    assert(lineage.size == 1 && cutCalls(lineage.head).nonEmpty)
    // and it reads code, not comments or strings (Dedup's comments
    // name localCheckpoint)
    val dedup = new java.io.File(root, "graft/functions/Dedup.scala")
    assert(new String(java.nio.file.Files.readAllBytes(dedup.toPath), "UTF-8")
      .contains("localCheckpoint") && cutCalls(dedup).isEmpty)
    assert(codeOnly("a // x.checkpoint()\n/* localCheckpoint\n */ b '\"' " +
      "\"s3://localCheckpoint\" c.checkpoint(false)").split("\n")
      .map(cutCall.findAllIn(_).size).sum == 1)
    val offenders = others.flatMap(cutCalls)
    assert(offenders.isEmpty,
      "cut lineage through graft.Lineage:\n" + offenders.mkString("\n"))
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

    val dir = java.nio.file.Files.createTempDirectory("graft_cut").toString
    assert(Lineage.configure(frame, Some(dir)))
    val relEager = frame.cut(true)
    val ((rel, relN), relJobs) = jobsOf(cutCount(frame, reliable = true))
    assert(relN == relEager.count() && relN == eagerN)
    assert(bag(rel) == bag(relEager) && bag(rel) == bag(eager))
    assert(relJobs <= 2, s"a reliable counted cut took $relJobs jobs")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
    assert(files.exists(java.nio.file.Files.isRegularFile(_)),
      s"no checkpoint files under $dir")
    // the test session does not reclaim checkpoint files itself
    files.sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
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
