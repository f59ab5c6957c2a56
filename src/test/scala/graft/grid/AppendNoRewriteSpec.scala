package graft.grid

import graft.{SparkTestBase, TempDirs, XarrayContext}
import graft.grid.TreeBytes.assertTreesEqual
import graft.grid.ZarrLayout.V3

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** An append replaces files by rename and never rewrites a live file in
  * place: before the append every file of the tree is hard-linked into
  * a side directory with its bytes recorded, and after it every link
  * must still hold those bytes. A truncate-and-rewrite changes the
  * linked inode; a rename-replace leaves the old inode to the link.
  */
class AppendNoRewriteSpec extends SparkTestBase with TempDirs {

  private def files(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
  }

  private def appendKeepsInodes(label: String, cut: Int,
      layout: ZarrLayout): Unit = {
    val ctx = new XarrayContext(spark)
    val base = tempDir(s"no_rewrite_$label")
    val root = base.resolve("store")
    def rows(lo: Int, hi: Int) = ctx.dataFrame(
      s"norewrite_$label@$lo", Fixtures.linearGridSlice(lo, hi),
      Map("t" -> 6), Seq("t", "lat", "lon"))
    ZarrGridStore.writeFromRows(rows(0, cut),
      Fixtures.linearGridSlice(0, cut).schema, Map("t" -> 6, "lat" -> 5),
      root.toString, "zstd:3", layout)

    val links = base.resolve("links")
    val recorded = files(root).zipWithIndex.map { case (f, i) =>
      val link = links.resolve(i.toString)
      Files.createDirectories(links)
      Files.createLink(link, f)
      (root.relativize(f).toString, link, Files.readAllBytes(f))
    }
    ZarrGridStore.appendFromRows(rows(cut, 24), root.toString, "t")

    recorded.foreach { case (rel, link, bytes) =>
      assert(java.util.Arrays.equals(Files.readAllBytes(link), bytes),
        s"$label: $rel was rewritten in place")
    }
    val residue = files(root).map(root.relativize(_).toString)
      .filter(n => n.endsWith(".appendbak") || n.endsWith(".next"))
    assert(residue.isEmpty, s"$label: $residue")
    assert(!Files.list(base).iterator().asScala
      .exists(_.getFileName.toString.contains(".staging-")), label)
    val oneShot = base.resolve("oneshot").toString
    ZarrGridStore.writeFromRows(rows(0, 24), Fixtures.linearGrid.schema,
      Map("t" -> 6, "lat" -> 5), oneShot, "zstd:3", layout)
    assertTreesEqual(oneShot, root.toString)
  }

  test("v2 aligned append rewrites no live file in place") {
    appendKeepsInodes("v2_aligned", 12, ZarrLayout.V2)
  }

  test("v2 unaligned append (edge merge) rewrites no live file in place") {
    appendKeepsInodes("v2_unaligned", 9, ZarrLayout.V2)
  }

  test("v3 sharded unaligned append rewrites no live file in place") {
    appendKeepsInodes("v3_sharded", 9, V3(Map("t" -> 2)))
  }
}
