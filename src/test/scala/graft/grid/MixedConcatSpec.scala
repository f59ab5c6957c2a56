package graft.grid

import graft.{SparkTestBase, TempDirs}
import graft.grid.ZarrLayout.V3
import graft.sources.ReadCounters
import org.apache.spark.sql.functions._

/** Layout-heterogeneous concatenation: one concat view over a blosc
  * Zarr v2 tree and a SHARDED Zarr v3 tree — the GridStore trait is the
  * only thing the scan layer sees, so each member plans against its own
  * chunk grid and zone maps regardless of on-disk layout. A real fleet
  * migrates layouts over time; the view must not care.
  */
class MixedConcatSpec extends SparkTestBase with TempDirs {

  test("zarr v2 + sharded v3 members concat and prune per member") {
    val base = tempDir("mixed_concat")
    // two t-slabs of the same 24x12x10 linear grid, two layouts
    val m1 = ZarrGridStore.write(Fixtures.linearGridSlice(0, 16),
      base.resolve("z2").toString, Map("t" -> 4), "blosc")
    val m2 = ZarrGridStore.write(Fixtures.linearGridSlice(16, 24),
      base.resolve("z3").toString, Map("t" -> 4), "zstd:3",
      V3(Map("t" -> 2)))
    val df = new graft.XarrayContext(spark).concatDataFrame("mixed",
      Seq(m1 -> Map("t" -> 4), m2 -> Map("t" -> 4)),
      Seq("t", "lat", "lon"))

    // full union matches the one-store source exactly
    val whole = df.agg(count(lit(1)), sum("air")).collect().head
    assert(whole.getLong(0) == 24L * 12 * 10)
    val expectAll = (for (t <- 0 until 24; i <- 0 until 12; j <- 0 until 10)
      yield 200.0 + t + 2.0 * i + 3.0 * j).sum
    assert(whole.getDouble(1) == expectAll)

    // a one-slab predicate opens ONLY the v3 member's shards: the v2
    // member prunes to zero via its own zone maps
    ReadCounters.reset()
    val rows = df.filter(col("t") >= 16)
      .agg(sum("air").as("s"), count(lit(1)).as("n")).collect()
    assert(rows.head.getLong(1) == 8L * 12 * 10)
    assert(ReadCounters.partitionsOpened.sum() == 2L) // 2 t-shards of m2
    val expect = (for (t <- 16 until 24; i <- 0 until 12; j <- 0 until 10)
      yield 200.0 + t + 2.0 * i + 3.0 * j).sum
    assert(rows.head.getDouble(0) == expect)
  }
}
