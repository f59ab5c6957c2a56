package graft.grid

import graft.{SparkTestBase, TempDirs, XarrayContext}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Randomized crash-point injection over the Zarr v2 append lifecycle.
  *
  * ZarrGridStore.appendFromRows' protocol is: scatter the slab into a
  * sibling `.staging-*` tree on the store-global chunk grid -> drop the
  * stats manifest -> GridIO.commitStaged: the new metadata written into
  * staging, the `.replace-manifest` listing every destination, then one
  * backed-up replace per file — staged chunks, per-variable stats,
  * coordinate array, `.zarray` shapes, `.zmetadata` (the commit point),
  * stats manifest — -> delete staging. Each trial crashes one append at
  * a RANDOM step of that protocol, taken from the steps an uncrashed
  * append of the same slab onto a copy of the store runs (every other
  * trial between moving a live file aside and moving its replacement
  * in), and asserts: readers see the old extent or the new one, with
  * its values; the next append heals every backup and sweeps the
  * crashed staging tree; and the store grown on from there lands a tree
  * byte-identical to a one-shot write. The one exception is the stats
  * sidecar once the crash passed the manifest drop: by design such a
  * crash can only LOSE stats (the retry cannot tell the old per-variable
  * entries from stale ones), so there the sidecar must serve a subset of
  * the one-shot entries, covering every chunk written after the crash.
  * A second test opens a reader at every step of an uncrashed v2 and
  * v3 append: old extent until the consolidated metadata moves in, new
  * extent after. A third looks a file up through
  * `GridIO.liveOrBackup` at every step of one replace.
  */
class CrashRecoverySpec extends SparkTestBase with TempDirs {

  private val trials = 8

  private final class SimulatedCrash extends RuntimeException("crash")

  private def tree(root: String): Map[String, Seq[Byte]] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap
  }

  /** A commit step that leaves a chunk (not a metadata file) moved
    * aside: the one window that still reads as fill.
    */
  private def tornChunk(step: String): Boolean = step.startsWith("aside ") && {
    val name = step.split('/').last
    !name.startsWith(".") && name != "zarr.json"
  }

  test("append crash at any step: readers isolated, staging swept, retry is byte-identical") {
    val ctx = new XarrayContext(spark)
    val conf = GridIO.driverConf()
    for (trial <- 0 until trials) {
      // golden-ratio seed spread: java.util.Random's first draws
      // correlate across adjacent seeds
      val rnd = new Random(0x9E3779B97F4A7C15L * (trial + 1))
      // every (chunk, cut) pair twice; the crash point is random. 9
      // ends inside a chunk for both sizes: the retry must also
      // read-modify-write the edge chunk the crash may have replaced
      val axisChunk = Seq(6, 4)(trial % 2)
      val cut = Seq(12, 9)(trial / 2 % 2)
      val comp = Seq("zstd", "none")(trial / 4)
      // the crashed append grows t to `mid`; a second slab to 24 follows
      val mid = 20
      val base = tempDir(s"crash_$trial")
      val root = base.resolve("store").toString
      def rows(lo: Int, hi: Int) = ctx.dataFrame(
        s"crash$trial@$root/$lo", Fixtures.linearGridSlice(lo, hi),
        Map("t" -> 6), Seq("t", "lat", "lon"))
      def create(at: String): Unit = {
        ZarrGridStore.writeFromRows(rows(0, cut),
          Fixtures.linearGridSlice(0, cut).schema, Map("t" -> axisChunk),
          at, comp)
        ()
      }
      def append(at: String, lo: Int, hi: Int): ZarrGridStore =
        ZarrGridStore.appendFromRows(rows(lo, hi), at, "t")

      // ---- the protocol's steps, from an uncrashed append ----
      val copy = base.resolve("copy").toString
      create(copy)
      val steps = Seq.newBuilder[String]
      steps += "staged" // the slab staged, the store untouched
      GridIO.replaceTestHook = step => steps += step.replace(copy, "<root>")
      try append(copy, cut, mid)
      finally GridIO.replaceTestHook = _ => ()
      val all = steps.result()
      val pool =
        if (trial % 2 == 1) all.filter(_.startsWith("aside ")) else all
      val crashAt = pool(rnd.nextInt(pool.size))

      // ---- crash the same append at that step ----
      create(root)
      def crash(step: String): Unit =
        if (step == crashAt) throw new SimulatedCrash
      ZarrGridStore.appendTestHook = _ => crash("staged")
      GridIO.replaceTestHook = step => crash(step.replace(root, "<root>"))
      try intercept[SimulatedCrash](append(root, cut, mid))
      finally {
        ZarrGridStore.appendTestHook = _ => ()
        GridIO.replaceTestHook = _ => ()
      }
      val manifestDropped = crashAt != "staged"
      val desc = s"trial $trial (chunk $axisChunk, cut $cut, $comp, " +
        s"crash at '$crashAt', step ${all.indexOf(crashAt)} of ${all.size})"
      info(desc)

      // ---- 1. readers see the old extent or the new one ----
      val reopened = ZarrGridStore.open(root)
      val extent = reopened.schema.dim("t").size
      assert(extent == cut || extent == mid, s"$desc: extent $extent")
      // what still tears: a chunk moved aside (a merged edge chunk, the
      // coordinate chunk) reads as fill until its replacement moves in
      val torn = tornChunk(crashAt)
      if (!torn)
        assert(reopened.schema.dim("t").coords.asInstanceOf[IntCoords]
          .values.toSeq == (0 until extent), s"$desc: coordinates")
      val full = Seq((0, extent), (0, 12), (0, 10))
      val got = reopened.readVar("air", full).asInstanceOf[Array[Double]]
      val want = Fixtures.linearGridSlice(0, extent).readVar("air", full)
        .asInstanceOf[Array[Double]]
      assert(got.indices.forall(i =>
        got(i) == want(i) || (torn && got(i).isNaN)),
        s"$desc: values changed")
      assert(ctx.dataFrame(s"crash$trial@$root", reopened,
        reopened.chunkMap, Seq("t", "lat", "lon")).collect().length ==
        extent * 12 * 10, s"$desc: scan left the committed extent")

      // ---- 2. the next append heals every backup and sweeps the
      // crashed staging tree (a retry when the crash left the old
      // extent); 3. the tree grown on from there is the one-shot tree --
      val next = if (extent == cut) append(root, cut, mid)
        else append(root, mid, 24)
      assert(!GridIO.listNames(base.toString, conf)
        .exists(_.contains(".staging-")), s"$desc: staging residue")
      assert(!tree(root).keys.exists(_.endsWith(".appendbak")),
        s"$desc: backup residue")
      val grown = if (extent == cut) append(root, mid, 24) else next
      val oneShot = base.resolve("oneshot").toString
      val expect = ZarrGridStore.writeFromRows(rows(0, 24),
        Fixtures.linearGrid.schema, Map("t" -> axisChunk), oneShot, comp)
      def isSidecar(rel: String) = rel.endsWith(StatsSource.Sidecar)
      val wantTree = tree(oneShot)
      val gotTree = tree(root)
      assert(wantTree.keySet == gotTree.keySet,
        s"$desc: ${wantTree.keySet.diff(gotTree.keySet)} / " +
          s"${gotTree.keySet.diff(wantTree.keySet)}")
      wantTree.keys.filterNot(rel => manifestDropped && isSidecar(rel))
        .foreach(rel => assert(wantTree(rel) == gotTree(rel),
          s"$desc: $rel differs"))
      // stats can only have been LOST, never gone stale, and every
      // chunk written after the crash carries its fresh entry
      assert(grown.stats.forall { case (key, b) =>
        expect.stats.get(key).contains(b) }, s"$desc: stale bounds")
      assert(grown.sums.forall { case (key, v) =>
        expect.sums.get(key).contains(v) }, s"$desc: stale sums")
      (extent / axisChunk until (24 + axisChunk - 1) / axisChunk).foreach { c =>
        assert(grown.stats.contains(s"air $c.0.0"),
          s"$desc: chunk $c written after the crash has no stats")
      }
    }
  }

  test("a reader opened at every commit step sees the old extent or the new one") {
    val ctx = new XarrayContext(spark)
    for ((layout, label) <- Seq(ZarrLayout.V2 -> "v2",
        ZarrLayout.V3(Map("t" -> 2)) -> "v3")) {
      val root = tempDir(s"interleave_$label").resolve("store").toString
      def rows(lo: Int, hi: Int) = ctx.dataFrame(
        s"interleave_$label@$lo", Fixtures.linearGridSlice(lo, hi),
        Map("t" -> 6), Seq("t", "lat", "lon"))
      ZarrGridStore.writeFromRows(rows(0, 9),
        Fixtures.linearGridSlice(0, 9).schema, Map("t" -> 6), root,
        "zstd", layout)
      val seen = Seq.newBuilder[(String, Int)]
      GridIO.replaceTestHook = { step =>
        val store = ZarrGridStore.open(root)
        val extent = store.schema.dim("t").size
        seen += step -> extent
        assert(extent == 9 || extent == 24, s"$label $step: extent $extent")
        if (!tornChunk(step)) {
          assert(store.schema.dim("t").coords.asInstanceOf[IntCoords]
            .values.toSeq == (0 until extent), s"$label $step: coordinates")
          val full = Seq((0, extent), (0, 12), (0, 10))
          assert(store.readVar("air", full).asInstanceOf[Array[Double]]
            .sameElements(Fixtures.linearGridSlice(0, extent)
              .readVar("air", full).asInstanceOf[Array[Double]]),
            s"$label $step: values")
        }
      }
      try ZarrGridStore.appendFromRows(rows(9, 24), root, "t")
      finally GridIO.replaceTestHook = _ => ()
      val steps = seen.result()
      // the consolidated metadata is the commit point
      val commit = steps.indexWhere { case (step, _) =>
        step.startsWith("in ") &&
          (step.endsWith("/.zmetadata") || step.endsWith("store/zarr.json")) }
      assert(commit > 0, s"$label: ${steps.map(_._1)}")
      assert(steps.take(commit).forall(_._2 == 9) &&
        steps.drop(commit).forall(_._2 == 24), s"$label: $steps")
    }
  }

  test("liveOrBackup finds the file as last committed at every replace step") {
    val conf = GridIO.driverConf()
    val dir = tempDir("live_or_backup").toString
    val dst = s"$dir/zarr.json"
    val absent = s"$dir/.zmetadata"
    assert(GridIO.liveOrBackup(Seq(absent, dst), conf).isEmpty)
    GridIO.writeString(dst, "old", conf)
    GridIO.writeString(s"$dir/staged", "new", conf)
    val seen = Seq.newBuilder[String]
    GridIO.replaceTestHook = { step =>
      val found = GridIO.liveOrBackup(Seq(absent, dst), conf)
      assert(found.isDefined, step)
      seen += new String(GridIO.readAllBytes(found.get, conf), "UTF-8")
    }
    try GridIO.replaceWithBackup(s"$dir/staged", dst, conf)
    finally GridIO.replaceTestHook = _ => ()
    // before, aside (the live file moved to its backup), in
    assert(seen.result() == Seq("old", "old", "new"))
    assert(GridIO.liveOrBackup(Seq(absent, dst), conf).contains(dst))
  }
}
