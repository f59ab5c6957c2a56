package graft.grid

import org.scalatest.Assertions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Byte-level comparison of two on-disk trees: every regular file,
  * metadata, chunks and the stats sidecar alike.
  */
object TreeBytes {

  /** Every regular file under `root`, keyed by its relative path. */
  def walk(root: String): Map[String, Seq[Byte]] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap
  }

  /** The two trees hold the same files with the same bytes. */
  def assertTreesEqual(expected: String, actual: String): Unit = {
    val a = walk(expected)
    val b = walk(actual)
    assert(a.keySet == b.keySet,
      (a.keySet.diff(b.keySet), b.keySet.diff(a.keySet)))
    a.keys.foreach(k => assert(a(k) == b(k), s"file $k differs"))
  }
}
