package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}

import org.apache.hadoop.fs.FileUtil
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One temporary root per suite, removed once the suite has run:
  * fixtures make their directories under it with [[tempDir]]
  * (`deleteOnExit` cannot do this job: the JVM never deletes a
  * directory that still holds files).
  */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>

  private var root: Path = _

  /** A fresh, empty directory named `prefix…` under the suite's root. */
  def tempDir(prefix: String): Path = synchronized {
    if (root == null) root = Files.createTempDirectory(suiteName)
    Files.createTempDirectory(root, prefix)
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized { if (root != null) TempDirs.delete(root) }
}

object TempDirs {
  // an index-heavy suite leaves thousands of files, seconds of deletes:
  // they run beside the next suite, and JVM exit waits for them
  private lazy val deleter = {
    val ex = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "temp-dir-delete")
      t.setDaemon(true)
      t
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      ex.shutdown()
      ex.awaitTermination(5, TimeUnit.MINUTES)
    }))
    ex
  }

  private def delete(root: Path): Unit =
    deleter.execute(() => FileUtil.fullyDelete(root.toFile))
}
