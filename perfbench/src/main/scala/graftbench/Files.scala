package graftbench

import java.nio.file.{Files => JFiles, Path, Paths}
import scala.jdk.CollectionConverters._

object Files {
  private def walk(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!JFiles.exists(p)) return Nil
    val s = JFiles.walk(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** (bytes, regular files) under `root`. */
  def treeStats(root: String): (Long, Long) = {
    val files = walk(root).filter(JFiles.isRegularFile(_))
    (files.map(JFiles.size).sum, files.size.toLong)
  }

  def treeBytes(root: String): Long = treeStats(root)._1

  def deleteTree(root: String): Unit =
    walk(root).reverse.foreach(JFiles.deleteIfExists)
}
