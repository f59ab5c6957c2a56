package graft.grid

import graft.{SparkTestBase, TempDirs}
import graft.grid.ZarrLayout.{V2, V3}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The writer-format invariant the stats reader rests on: every writer
  * emits only the current stats format.
  */
class SidecarFormatSpec extends SparkTestBase with TempDirs {

  /** An fp for every manifest var, `n` on every shard ref, no v1 body. */
  private def checkStats(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(_.getFileName.toString == ".graft-stats.json").foreach { f =>
        val n = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(f.toFile)
        assert(n.path("version").asInt() != 1, f)
        if (f.getParent == root) n.path("vars").elements().asScala
          .foreach(v => assert(n.path("fp").path(v.asText()).isTextual, f))
        n.path("shards").elements().asScala.foreach(s => assert(s.has("n"), f))
      } finally walk.close()
  }

  test("every Zarr writer emits fp-guarded manifests and counted shards") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt(StatsSource.ShardEntriesKey, 2) // forces version-3 dirs
    def rows(lo: Int, hi: Int) = (lo until hi).map(t => (t, t * 2.0))
      .toDF("t", "x")
    def schema(lo: Int, hi: Int) = GridSchema(
      Seq(DimDef("t", IntCoords((lo until hi).toArray))),
      Seq(VarDef("x", Seq("t"), GDouble)))
    val dir = tempDir("sidecar_fmt")
    try for (((layout, comp), i) <- Seq(V2 -> "zlib",
        V3(Map("t" -> 2)) -> "zstd:3").zipWithIndex) {
      val Seq(w, wd, rs) = Seq("w", "wd", "rs").map(o => dir.resolve(s"$o$i"))
      ZarrGridStore.write(Fixtures.linearGrid, w.toString, Map("t" -> 6), comp,
        layout)
      ZarrGridStore.writeDistributed(Fixtures.linearGrid, wd.toString,
        Map("t" -> 6), comp, layout)
      ZarrGridStore.writeFromRows(rows(0, 10), schema(0, 10),
        Map("t" -> 4), rs.toString, comp, layout)
      Seq(w, wd, rs).foreach(checkStats)
      // unaligned (10 % 4 != 0), then aligned (12 % 4 == 0)
      Seq((10, 12), (12, 20)).foreach { case (lo, hi) =>
        ZarrGridStore.appendFromRows(rows(lo, hi), rs.toString, "t")
        checkStats(rs)
      }
    } finally hconf.unset(StatsSource.ShardEntriesKey)
  }
}
