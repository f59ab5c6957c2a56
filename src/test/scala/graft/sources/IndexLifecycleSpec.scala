package graft.sources

import graft.{SparkTestBase, TempDirs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}

/** The shared swap and heal of [[IndexLifecycle]] on bare directories
  * (no index built): a swap crashed after any step heals to the old or
  * the new copy and never nests one inside the other, heals racing the
  * swap leave one live copy, and a `.next` only ever appears complete.
  * Each copy is a directory holding one file named after its version.
  */
class IndexLifecycleSpec extends SparkTestBase with TempDirs {

  private case object Crash extends RuntimeException

  /** The raw local filesystem, running a hook before every rename. */
  private class HookedFs extends FilterFileSystem(new RawLocalFileSystem) {
    var beforeRename: (Path, Path) => Unit = (_, _) => ()
    override def rename(src: Path, dst: Path): Boolean = {
      beforeRename(src, dst)
      super.rename(src, dst)
    }
  }

  /** A fresh filesystem and the slot of `<tmpdir>/live`. */
  private def fixture(): (HookedFs, IndexLifecycle.Slot) = {
    val fs = new HookedFs
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val root = tempDir("slot").toUri.getPath
    (fs, IndexLifecycle.Slot(new Path(s"$root/live")))
  }

  private def copy(fs: HookedFs, dir: Path, version: String): Unit = {
    fs.mkdirs(dir)
    fs.create(new Path(dir, version)).close()
  }

  /** A directory's entries, sub-directories marked with a trailing `/`. */
  private def content(fs: HookedFs, dir: Path): Set[String] =
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(s =>
      s.getPath.getName + (if (s.isDirectory) "/" else "")).toSet

  /** Run the writer's steps up to `crashAfter`: 0 = staged copy written,
    * 1 = staged as `.next`, 2 = live moved aside, 3 = swap complete.
    */
  private def writer(fs: HookedFs, s: IndexLifecycle.Slot,
      crashAfter: Int): Unit = {
    val tmp = new Path(s"${s.live}.tmp")
    copy(fs, tmp, "new")
    if (crashAfter >= 1) IndexLifecycle.stage(fs, tmp, s)
    if (crashAfter == 2) {
      IndexLifecycle.betweenRenames = _ => throw Crash
      try intercept[Crash.type](IndexLifecycle.swap(fs, s))
      finally IndexLifecycle.betweenRenames = _ => ()
    }
    if (crashAfter == 3) IndexLifecycle.swap(fs, s)
  }

  test("a swap crashed after any step heals to the old or the new copy") {
    for (firstWrite <- Seq(false, true); crashAfter <- 0 to 3) {
      val (fs, s) = fixture()
      if (!firstWrite) copy(fs, s.live, "old")
      writer(fs, s, crashAfter)
      val present = IndexLifecycle.heal(fs, s)
      val want =
        if (crashAfter >= 2 || (firstWrite && crashAfter == 1)) Set("new")
        else if (firstWrite) Set.empty[String]
        else Set("old")
      val at = s"firstWrite=$firstWrite crashAfter=$crashAfter"
      assert(content(fs, s.live) == want, at)
      assert(present == want.nonEmpty, at)
      assert(!fs.exists(s.old), at)
    }
  }

  test("a live copy moved aside with no .next is restored") {
    val (fs, s) = fixture()
    copy(fs, s.old, "old")
    assert(IndexLifecycle.heal(fs, s))
    assert(content(fs, s.live) == Set("old") && !fs.exists(s.old))
  }

  test("a heal racing the swap adopts .next; the writer finishes cleanly") {
    val (fs, s) = fixture()
    copy(fs, s.live, "old")
    copy(fs, new Path(s"${s.live}.tmp"), "new")
    IndexLifecycle.stage(fs, new Path(s"${s.live}.tmp"), s)
    var heals = 0
    IndexLifecycle.betweenRenames = _ => {
      heals += 1
      assert(IndexLifecycle.heal(fs, s)) // a concurrent reader
    }
    try IndexLifecycle.swap(fs, s)
    finally IndexLifecycle.betweenRenames = _ => ()
    assert(heals == 1)
    assert(content(fs, s.live) == Set("new"))
    assert(!fs.exists(s.next) && !fs.exists(s.old))
  }

  test("an adoption landing inside a restored live copy is undone and " +
      "the swap retries") {
    val (fs, s) = fixture()
    copy(fs, s.live, "old")
    copy(fs, new Path(s"${s.live}.tmp"), "new")
    IndexLifecycle.stage(fs, new Path(s"${s.live}.tmp"), s)
    // a stalled reader that saw neither live nor `.next` restores
    // `.old` inside the window, so the writer's rename of `.next` lands
    // INSIDE the restored copy
    var windows = 0
    IndexLifecycle.betweenRenames = _ => {
      windows += 1
      if (windows == 1) assert(fs.rename(s.old, s.live))
    }
    try IndexLifecycle.swap(fs, s)
    finally IndexLifecycle.betweenRenames = _ => ()
    assert(windows == 2, "the nested adoption must be retried")
    assert(content(fs, s.live) == Set("new"))
    assert(!fs.exists(s.next) && !fs.exists(s.old))
  }

  test("a heal whose restore lands inside a newly adopted copy undoes it") {
    val (fs, s) = fixture()
    copy(fs, s.old, "old")
    val next = new Path(s"${s.live}.adopted")
    copy(fs, next, "new")
    // the writer's adoption lands between the heal's checks and its
    // rename of `.old`
    fs.beforeRename = (src, _) =>
      if (src == s.old && !fs.exists(s.live)) assert(fs.rename(next, s.live))
    assert(IndexLifecycle.heal(fs, s))
    fs.beforeRename = (_, _) => ()
    assert(content(fs, s.live) == Set("new"), "nothing nested inside live")
    assert(content(fs, s.old) == Set("old"), "the old copy moved back out")
  }

  test("a .next appears only by one rename of a complete copy") {
    for (firstWrite <- Seq(false, true)) {
      val (fs, s) = fixture()
      if (!firstWrite) copy(fs, s.live, "old")
      var intoNext = Seq.empty[Set[String]]
      fs.beforeRename = (src, dst) =>
        if (dst == s.next) intoNext :+= content(fs, src)
      writer(fs, s, crashAfter = 3)
      assert(intoNext == Seq(Set("new")), s"firstWrite=$firstWrite")
      assert(content(fs, s.live) == Set("new"))
    }
  }

  test("healChildren resolves every slot under a root from one listing") {
    val (fs, s) = fixture()
    val root = s.live
    copy(fs, new Path(root, "a.next"), "new")
    copy(fs, new Path(root, "b.old"), "old")
    copy(fs, new Path(root, "c"), "old")
    copy(fs, new Path(root, "c.next"), "stale")
    val healed = IndexLifecycle.healChildren(fs, root)
      .map(_.getPath.getName).toSet
    assert(healed == Set("a", "b", "c", "c.next"))
    assert(content(fs, new Path(root, "a")) == Set("new"))
    assert(content(fs, new Path(root, "b")) == Set("old"))
    assert(content(fs, new Path(root, "c")) == Set("old"))
  }

  test("readSidecar reads an underscore dir, an empty part file included, " +
      "with no ignored-path WARN") {
    import spark.implicits._
    val dir = tempDir("sidecar").toString
    Seq(1L, 2L).toDF("id").write.parquet(s"$dir/_full")
    Seq.empty[Long].toDF("id").coalesce(1).write.parquet(s"$dir/_empty")
    val ((full, empty), logged) = graft.LogCapture.lines(
      (IndexLifecycle.readSidecar(spark, s"$dir/_full").collect()
        .map(_.getLong(0)).sorted.toSeq,
        IndexLifecycle.readSidecar(spark, s"$dir/_empty")))
    assert(full == Seq(1L, 2L))
    assert(empty.columns.toSeq == Seq("id") && empty.count() == 0)
    assert(!logged.exists(l => l.contains("All paths were ignored") ||
      l.contains(s"$dir/_")), logged.mkString("\n"))
  }
}
