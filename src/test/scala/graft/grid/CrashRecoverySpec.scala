package graft.grid

import graft.{SparkTestBase, TempDirs, XarrayContext}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Randomized crash-point injection over the Zarr v2 append lifecycle.
  *
  * ZarrGridStore.appendFromRows' protocol is: scatter the slab into a
  * sibling `.staging-*` tree on the store-global chunk grid -> drop the
  * stats manifest -> move the staged chunks into the store through
  * GridIO.commitStaged (the `.replace-manifest` first, then one
  * backed-up replace per file) -> delete staging -> commit metadata
  * (coordinate array, `.zarray` shapes, stats sidecar, consolidated
  * metadata). Each trial replays the protocol through the staging test
  * seam up to a RANDOM step, crashes with the metadata never
  * committed, and asserts: readers stay on the old committed extent
  * with unchanged values (planning is driven purely by metadata); the
  * next append sweeps the crashed staging tree; and the retried append
  * lands a tree byte-identical to a one-shot write. The one exception
  * is the stats sidecar once the crash passed the manifest drop: by
  * design such a crash can only LOSE stats (the retry cannot tell the
  * old per-variable entries from stale ones), so there the sidecar must
  * serve a subset of the one-shot entries, covering every chunk the
  * retry wrote. (A crash INSIDE one backed-up replace is pinned by
  * ZarrUnalignedAppendSpec.)
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
      val base = tempDir(s"crash_$trial")
      val root = base.resolve("store").toString
      def rows(lo: Int, hi: Int) = ctx.dataFrame(
        s"crash$trial@$root/$lo", Fixtures.linearGridSlice(lo, hi),
        Map("t" -> 6), Seq("t", "lat", "lon"))

      // committed store: t [0, cut); the slab to append: t [cut, 24)
      ZarrGridStore.writeFromRows(rows(0, cut),
        Fixtures.linearGridSlice(0, cut).schema, Map("t" -> axisChunk),
        root, comp)
      val slabSchema = Fixtures.linearGridSlice(cut, 24).schema

      // ---- replay the commit up to a random step, then crash ----
      var staging = ""
      var manifestDropped = false
      var desc = ""
      ZarrGridStore.appendTestHook = { cleanRoot =>
        ZarrGridStore.appendTestHook = _ => ()
        staging = GridIO.listNames(base.toString, conf)
          .filter(_.startsWith("store.staging-"))
          .map(n => s"$base/$n").head
        val pairs = GridIO.listNames(s"$staging/air", conf).sorted
          .map(fn => (s"$staging/air/$fn", s"$cleanRoot/air/$fn"))
        // step 0: crash with the slab staged, the store untouched;
        // step k > 0: the manifest dropped and k - 1 of n staged files
        // replaced (k - 1 = n: before, or after, the staging delete)
        val k = rnd.nextInt(pairs.size + 2)
        manifestDropped = k > 0
        if (manifestDropped) {
          GridIO.delete(s"$cleanRoot/${StatsSource.Sidecar}", conf)
          GridIO.writeString(s"$staging/.replace-manifest",
            pairs.map(_._2).mkString("\n"), conf)
          pairs.take(k - 1).foreach { case (src, dst) =>
            GridIO.replaceWithBackup(src, dst, conf)
          }
        }
        val stagingDeleted = k - 1 == pairs.size && rnd.nextBoolean()
        if (stagingDeleted) GridIO.delete(staging, conf)
        desc = s"trial $trial (chunk $axisChunk, cut $cut, $comp, " +
          s"crash step $k of ${pairs.size + 1}, staging deleted " +
          s"$stagingDeleted)"
        throw new SimulatedCrash
      }
      try intercept[SimulatedCrash] {
        ZarrGridStore.appendFromRows(rows(cut, 24), slabSchema, root, "t")
      } finally ZarrGridStore.appendTestHook = _ => ()
      // metadata NEVER commits in a crash trial
      info(desc)

      // ---- 1. readers stay on the committed extent ----
      val reopened = ZarrGridStore.open(root)
      assert(reopened.schema.dim("t").size == cut, desc)
      val oldFull = Seq((0, cut), (0, 12), (0, 10))
      assert(reopened.readVar("air", oldFull).asInstanceOf[Array[Double]]
        .sameElements(Fixtures.linearGridSlice(0, cut).readVar("air", oldFull)
          .asInstanceOf[Array[Double]]), s"$desc: values changed")
      assert(ctx.dataFrame(s"crash$trial@$root", reopened,
        reopened.chunkMap, Seq("t", "lat", "lon")).collect().length ==
        cut * 12 * 10, s"$desc: scan left the committed extent")

      // ---- 2. the retried append sweeps the crashed staging tree ----
      val retried =
        ZarrGridStore.appendFromRows(rows(cut, 24), slabSchema, root, "t")
      assert(!Files.exists(Paths.get(staging)),
        s"$desc: crashed staging tree survived the next append")
      assert(!GridIO.listNames(base.toString, conf)
        .exists(_.contains(".staging-")), s"$desc: staging residue")
      assert(!tree(root).keys.exists(_.endsWith(".appendbak")),
        s"$desc: backup residue")

      // ---- 3. ...and lands exactly the one-shot tree ----
      val oneShot = base.resolve("oneshot").toString
      val expect = ZarrGridStore.writeFromRows(rows(0, 24),
        Fixtures.linearGrid.schema, Map("t" -> axisChunk), oneShot, comp)
      def isSidecar(rel: String) = rel.endsWith(StatsSource.Sidecar)
      val want = tree(oneShot)
      val got = tree(root)
      assert(want.keySet == got.keySet,
        s"$desc: ${want.keySet.diff(got.keySet)} / " +
          s"${got.keySet.diff(want.keySet)}")
      want.keys.filterNot(rel => manifestDropped && isSidecar(rel))
        .foreach(rel => assert(want(rel) == got(rel), s"$desc: $rel differs"))
      // stats can only have been LOST, never gone stale, and every
      // chunk the retry wrote carries its fresh entry
      assert(retried.stats.forall { case (key, b) =>
        expect.stats.get(key).contains(b) }, s"$desc: stale bounds")
      assert(retried.sums.forall { case (key, v) =>
        expect.sums.get(key).contains(v) }, s"$desc: stale sums")
      (cut / axisChunk until (24 + axisChunk - 1) / axisChunk).foreach { c =>
        assert(retried.stats.contains(s"air $c.0.0"),
          s"$desc: retried chunk $c has no stats")
      }
    }
  }
}
