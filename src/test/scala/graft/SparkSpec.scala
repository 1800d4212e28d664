package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession, built
  * by the same builder as the mains.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(8)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** This suite's temp root, made on the first [[tempDir]] call and
    * deleted with everything under it after the suite's last test.
    */
  private var tempRoot: Option[java.io.File] = None

  /** A fresh directory named `prefix…` under this suite's temp root. */
  protected def tempDir(prefix: String): java.nio.file.Path = synchronized {
    val root = tempRoot.getOrElse {
      val r = java.nio.file.Files.createTempDirectory(
        s"graft_${getClass.getSimpleName}_").toFile
      tempRoot = Some(r)
      r
    }
    java.nio.file.Files.createTempDirectory(root.toPath, prefix)
  }

  override protected def afterAll(): Unit =
    try tempRoot.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    finally super.afterAll()

  /** (result, Spark jobs fired by `f`): every job `f` starts runs in
    * one fresh job group, counted once the listener bus is drained.
    */
  protected def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-jobs-${System.nanoTime()}"
    sc.setJobGroup(group, "counted jobs", false)
    val out = try f finally sc.clearJobGroup()
    org.apache.spark.graft.SparkTestAccess.flushListenerBus(sc)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** `f` with the session SQL conf `kv` set; each key's prior value
    * (or its absence) is restored afterwards.
    */
  protected def withConf[A](kv: (String, String)*)(f: => A): A = {
    val conf = spark.conf
    val saved = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** `f(dir)` with the session's checkpoint dir set to a fresh temp
    * `dir`, so operators cut reliably inside `f`. The dir is unset and
    * deleted afterwards: a dir left set would make every later suite
    * in the JVM cut reliably. (`setCheckpointDir(null)` stores
    * `Option(null)`, i.e. unsets it, in local mode.)
    */
  protected def withCheckpointDir[A](f: String => A): A = {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty,
      s"session checkpoint dir already set: ${sc.getCheckpointDir}")
    val dir = tempDir("graft_ckpt").toFile
    sc.setCheckpointDir(dir.getPath)
    try f(dir.getPath) finally {
      sc.setCheckpointDir(null)
      // quietly: the ContextCleaner may delete checkpoint files under
      // it concurrently
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }
}
