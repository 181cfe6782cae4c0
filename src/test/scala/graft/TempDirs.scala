package graft

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temporary directories owned by one suite: [[tempDir]] creates a fresh
  * directory under `java.io.tmpdir`, and `afterAll` deletes every one it
  * handed out, with whatever the tests wrote inside.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A new empty directory named `prefix<random>`, removed after the suite. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    made.add(d)
    d.getAbsolutePath
  }

  override def afterAll(): Unit =
    try made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()
}
