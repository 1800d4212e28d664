package graft

import java.nio.file.{Files, Path}

/** Local scratch directories that queries make while they build (view
  * catalogs, stream checkpoints, index trees): one root per JVM under
  * `java.io.tmpdir`, deleted with everything under it when the JVM
  * exits, so repeated Verify, Bench or test runs leave nothing behind.
  */
object Scratch {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_scratch_")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
    r
  }

  /** A fresh directory named `prefix…` under the JVM's scratch root. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)
}
