package graft

import java.nio.file.{Files, Path}

/** Every temp dir and file the suites make, under one root per test JVM
  * that is deleted at exit (after Spark's own shutdown hook has stopped
  * the context), so test runs leave nothing behind in the temp dir. */
object TestDirs {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-test-")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.hadoop.fs.FileUtil.fullyDelete(r.toFile), 10)
    r
  }

  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)

  def file(prefix: String, suffix: String): Path = Files.createTempFile(root, prefix, suffix)
}
