package graft.sources

import graft.{SparkTestBase, TempDirs}
import graft.grid.{Fixtures, ZarrGridStore, ZarrLayout}
import org.apache.spark.sql.functions._

/** The plain-Spark read surface: `spark.read.format("zarr").load(root)`
  * with no XarrayContext — short-name registration, v2/v3
  * auto-detection, pruning through the DSv2 scan, and the `dims`
  * group selector.
  */
class ZarrFormatSpec extends SparkTestBase with TempDirs {

  private def v2Root(): String = {
    val root = tempDir("zarr_fmt")
    val p = root.resolve("store").toString
    ZarrGridStore.write(Fixtures.linearGrid, p,
      Map("t" -> 6, "lat" -> 5), "blosc")
    p
  }

  test("format(\"zarr\") resolves by short name and reads a v2 tree") {
    val df = spark.read.format("zarr").load(v2Root())
    assert(df.columns.toSeq == Seq("t", "lat", "lon", "air"))
    val r = df.agg(count(lit(1)), sum("air")).collect().head
    assert(r.getLong(0) == 24L * 12 * 10)
    val expect = (for (t <- 0 until 24; i <- 0 until 12; j <- 0 until 10)
      yield 200.0 + t + 2.0 * i + 3.0 * j).sum
    assert(r.getDouble(1) == expect)
  }

  test("pruning works through the plain-format path") {
    val df = spark.read.format("zarr").load(v2Root())
    ReadCounters.reset()
    val rows = df.filter(col("t") >= 18)
      .agg(sum("air").as("s"), count(lit(1)).as("n")).collect()
    assert(rows.head.getLong(1) == 6L * 12 * 10)
    // 1 of 4 t-chunks survives x 3 lat-chunks (12 = 5+5+2)
    assert(ReadCounters.partitionsOpened.sum() == 3L)
  }

  test("v3 sharded trees load through the same format") {
    val root = tempDir("zarr_fmt_v3")
    val p = root.resolve("store").toString
    ZarrGridStore.write(Fixtures.linearGrid, p, Map("t" -> 6), "zstd:3",
      ZarrLayout.V3(Map("t" -> 2)))
    val df = spark.read.format("zarr").load(p)
    assert(df.filter(col("lat") === 75.0).count() == 24L * 10)
  }

  test("store cache self-invalidates when the tree mutates") {
    val root = tempDir("zarr_fmt_mut")
    val p = root.resolve("store").toString
    ZarrGridStore.write(Fixtures.linearGridSlice(0, 12), p,
      Map("t" -> 6), "zstd:3")
    assert(spark.read.format("zarr").load(p).count() == 12L * 12 * 10)
    // REWRITE the tree in place with twice the t extent (rewrites
    // chunks, .zarray and .zmetadata) — NO manual invalidate call
    ZarrGridStore.write(Fixtures.linearGrid, p, Map("t" -> 6), "zstd:3")
    val df = spark.read.format("zarr").load(p)
    assert(df.count() == 24L * 12 * 10,
      "re-load() must see the mutated extent without invalidate()")
    // values from the new tree, not a stale store
    val r = df.filter(col("t") >= 12).agg(sum("air")).collect().head
    val expect = (for (t <- 12 until 24; i <- 0 until 12; j <- 0 until 10)
      yield 200.0 + t + 2.0 * i + 3.0 * j).sum
    assert(r.getDouble(0) == expect)
  }

  test("dims option selects a group; clear errors otherwise") {
    val p = v2Root()
    val df = spark.read.format("zarr").option("dims", "t,lat,lon").load(p)
    assert(df.columns.contains("air"))
    val e = intercept[Exception](
      spark.read.format("zarr").option("dims", "t,nope").load(p))
    assert(e.getMessage.contains("unknown dim"), e.getMessage)
    val e2 = intercept[Exception](
      spark.read.format("zarr").option("dims", "lat,t,lon").load(p))
    assert(e2.getMessage.contains("no variable"), e2.getMessage)
  }
}
