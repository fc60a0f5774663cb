package graft

import java.nio.file.{Files, Path}

import org.scalatest.{Args, BeforeAndAfterAll, Status}

/** Directories for a suite's stores, checkpoints and inputs: each
  * [[tempDir]] is a new directory inside one directory of the suite,
  * which is deleted with everything in it once the suite has run (after
  * its `afterAll`).
  */
trait TempDirs extends BeforeAndAfterAll { this: org.scalatest.Suite =>
  private var suiteDir: Path = _

  /** a new, empty directory whose name starts with `prefix` */
  def tempDir(prefix: String): Path = synchronized {
    if (suiteDir == null) suiteDir = Files.createTempDirectory(s"graft-$suiteName-")
    Files.createTempDirectory(suiteDir, prefix)
  }

  abstract override def run(testName: Option[String], args: Args): Status =
    try super.run(testName, args)
    finally synchronized {
      if (suiteDir != null) graft.core.Fs.deleteRecursively(suiteDir.toFile)
      suiteDir = null
    }
}
