package graft.grid

import graft.{SparkTestBase, TempDirs}
import graft.grid.TreeBytes.assertTreesEqual
import graft.grid.ZarrLayout.{V2, V3}

/** The one Zarr writer, cell by cell: for every layout (v2, v3, v3
  * sharded) each write operation — the driver loop, the executor-side
  * store-to-store write and the DataFrame row scatter — emits a tree
  * byte-identical to the driver write of the same layout, every file
  * included (metadata, chunks or shards, `.graft-stats.json`).
  */
class ZarrWriteIdentitySpec extends SparkTestBase with TempDirs {

  private val chunks = Map("t" -> 6, "lat" -> 5)

  private lazy val rows = new graft.XarrayContext(spark).dataFrame(
    "zwi_src", Fixtures.linearGrid, Map("t" -> 6), Seq("t", "lat", "lon"))

  private val layouts: Seq[(String, ZarrLayout, String)] = Seq(
    ("v2", V2, "zlib"), ("v3", V3(), "zstd:3"),
    ("v3 sharded", V3(Map("t" -> 2)), "zstd:3"))

  private val ops: Seq[(String, (ZarrLayout, String, String) => Any)] = Seq(
    "write" -> ((l, comp, r) =>
      ZarrGridStore.write(Fixtures.linearGrid, r, chunks, comp, l)),
    "writeDistributed" -> ((l, comp, r) =>
      ZarrGridStore.writeDistributed(Fixtures.linearGrid, r, chunks, comp, l)),
    "writeFromRows" -> ((l, comp, r) => ZarrGridStore.writeFromRows(rows,
      Fixtures.linearGrid.schema, chunks, r, comp, l)))

  for ((name, layout, comp) <- layouts; (op, run) <- ops)
    test(s"$name $op: tree is byte-identical to the driver write") {
      assert(spark.sparkContext.defaultParallelism >= 1) // session up
      val dir = tempDir("zarr_identity")
      val driver = dir.resolve("driver").toString
      val got = dir.resolve(op).toString
      ZarrGridStore.write(Fixtures.linearGrid, driver, chunks, comp, layout)
      run(layout, comp, got)
      assertTreesEqual(driver, got)
    }
}
