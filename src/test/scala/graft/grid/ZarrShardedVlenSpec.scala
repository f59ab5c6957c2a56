package graft.grid

import graft.{SparkTestBase, TempDirs}
import graft.grid.ZarrLayout.V3
import graft.sources.ReadCounters
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** Sharded v3 vlen-utf8 string arrays (write + read), the row-scatter
  * string path (the sink's vlen branches, plain and sharded, live from
  * `writeFromRows`), and the COALESCED ranged-read pin: byte-adjacent
  * inner-chunk index entries of one shard merge into a single range
  * GET.
  */
class ZarrShardedVlenSpec extends SparkTestBase with TempDirs {

  private def tmp(): Path = tempDir("zarr_shvlen")

  test("sharded v3 string array round-trips store-to-store") {
    val root = tmp().resolve("st").toString
    val fx = Fixtures.stationQualityGrid
    val store = ZarrGridStore.write(fx, root,
      Map("station" -> 4, "time" -> 5), "zstd:3",
      V3(Map("station" -> 2)))
    // the string variable is genuinely sharded
    assert(store.arrays("quality").sharding.exists(
      _.innerShape == Seq(2, 5)))
    assert(store.arrays("quality").stored.contains(StoredVlenStr))
    // full read
    val full = Seq((0, 8), (0, 10))
    assert(store.readVar("quality", full).asInstanceOf[Array[String]]
      .sameElements(fx.readVar("quality", full).asInstanceOf[Array[String]]))
    // unaligned sub-range crossing shard and inner-chunk boundaries
    val sl = Seq((1, 6), (2, 7))
    assert(store.readVar("quality", sl).asInstanceOf[Array[String]]
      .sameElements(fx.readVar("quality", sl).asInstanceOf[Array[String]]))
    // numeric sibling still healthy in the same sharded tree
    assert(store.readVar("reading", sl).asInstanceOf[Array[Double]]
      .sameElements(fx.readVar("reading", sl).asInstanceOf[Array[Double]]))
    // a foreign-reader sanity: reopening parses the sharded vlen
    // pipeline from the metadata alone
    val reopened = ZarrGridStore.open(root)
    assert(reopened.readVar("quality", full).asInstanceOf[Array[String]]
      .sameElements(fx.readVar("quality", full).asInstanceOf[Array[String]]))
  }

  test("row scatter writes string variables: v2, v3, sharded v3") {
    import spark.implicits._
    val df = (0 until 12).map { t =>
      (t, if (t % 3 == 0) "alpha" else if (t % 3 == 1) "beta" else "",
        10.0 + t)
    }.toDF("t", "label", "x")
    val schema = GridSchema(
      Seq(DimDef("t", IntCoords((0 until 12).toArray))),
      Seq(VarDef("label", Seq("t"), GString),
        VarDef("x", Seq("t"), GDouble)))
    val expect = (0 until 12).map(t =>
      if (t % 3 == 0) "alpha" else if (t % 3 == 1) "beta" else "").toArray

    val v2 = ZarrGridStore.writeFromRows(df, schema, Map("t" -> 5),
      tmp().resolve("v2").toString, "zstd:3")
    assert(v2.readVar("label", Seq((0, 12))).asInstanceOf[Array[String]]
      .sameElements(expect))

    val v3 = ZarrGridStore.writeFromRows(df, schema, Map("t" -> 5),
      tmp().resolve("v3").toString, "zstd:3", V3())
    assert(v3.readVar("label", Seq((0, 12))).asInstanceOf[Array[String]]
      .sameElements(expect))

    val sharded = ZarrGridStore.writeFromRows(df, schema, Map("t" -> 6),
      tmp().resolve("v3sh").toString, "zstd:3",
      V3(Map("t" -> 2)))
    assert(sharded.arrays("label").sharding.exists(_.innerShape == Seq(2)))
    assert(sharded.readVar("label", Seq((0, 12))).asInstanceOf[Array[String]]
      .sameElements(expect))
    assert(sharded.readVar("label", Seq((3, 7))).asInstanceOf[Array[String]]
      .sameElements(expect.slice(3, 10)))
  }

  test("format surface: v3 shards with a string variable") {
    import spark.implicits._
    val root = tmp().resolve("fmt").toString
    val df = (0 until 12).map(t => (t, s"tag_${t % 4}", 1.5 * t))
      .toDF("t", "tag", "y")
    df.write.format("zarr")
      .option("dims", "t").option("chunks", "t=6")
      .option("format", "v3").option("shards", "t=3")
      .mode("overwrite").save(root)
    val back = spark.read.format("zarr").load(root)
    assert(back.count() == 12)
    assert(back.filter(col("tag") === "tag_2").count() == 3)
    val store = ZarrGridStore.open(root)
    assert(store.arrays("tag").sharding.exists(_.innerShape == Seq(3)))
  }

  test("file-non-contiguous inner chunks merge across small holes") {
    val root = tmp().resolve("gap").toString
    // shard (t=6, lat=12); inner (t=2, lat=6): 3x2 inner grid, C-order
    // file layout k = tIdx*2 + latIdx. A box over lat 0..5 (inner lat
    // chunk 0 only) and all t selects k = {0, 2, 4} — non-adjacent in
    // the file, separated by the skipped k=1,3 byte ranges, each far
    // below the 64 KiB gap cap -> ONE merged GET, holes discarded.
    val store = ZarrGridStore.write(Fixtures.linearGrid, root,
      Map("t" -> 6), "zstd:3", V3(Map("t" -> 2, "lat" -> 6)))
    store.readVar("air", Seq((0, 2), (0, 6), (0, 10))) // warm index cache
    GridIO.Counters.reset()
    val got = store.readVar("air", Seq((0, 6), (0, 6), (0, 10)))
      .asInstanceOf[Array[Double]]
    assert(got.sameElements(Fixtures.linearGrid
      .readVar("air", Seq((0, 6), (0, 6), (0, 10)))
      .asInstanceOf[Array[Double]]))
    assert(GridIO.Counters.rangeReads.sum() == 1L,
      s"expected 1 gap-merged range read, got " +
        s"${GridIO.Counters.rangeReads.sum()}")
  }

  test("adjacent inner chunks of one shard coalesce into ONE range GET") {
    val root = tmp().resolve("coalesce").toString
    // one shard spans full lat/lon; inner chunks split t (6 = 3 x 2)
    val store = ZarrGridStore.write(Fixtures.linearGrid, root,
      Map("t" -> 6), "zstd:3", V3(Map("t" -> 2)))
    // warm the shard-index cache (a partial read fetches + caches it)
    store.readVar("air", Seq((0, 2), (0, 12), (0, 10)))
    GridIO.Counters.reset()
    // t (0,4) touches inner chunks 0 and 1 of shard 0 — byte-adjacent
    // in the file, so the planner must issue exactly ONE range read
    val got = store.readVar("air", Seq((0, 4), (0, 12), (0, 10)))
      .asInstanceOf[Array[Double]]
    assert(got.sameElements(Fixtures.linearGrid
      .readVar("air", Seq((0, 4), (0, 12), (0, 10)))
      .asInstanceOf[Array[Double]]))
    assert(GridIO.Counters.rangeReads.sum() == 1L,
      s"expected 1 coalesced range read, got " +
        s"${GridIO.Counters.rangeReads.sum()}")
    assert(GridIO.Counters.reads.sum() == 0L) // no whole-file fetch
    // and the registered scan still prunes/answers across the change
    val df = new graft.XarrayContext(spark)
      .dataFrame(s"zarr_coalesce@$root", store, store.chunkMap,
        Seq("t", "lat", "lon"))
    ReadCounters.reset()
    val rows = df.filter(col("t") < 4)
      .agg(sum("air").as("s"), count(lit(1)).as("n")).collect()
    assert(rows.head.getLong(1) == 4L * 12 * 10)
    val expect = (for (t <- 0 until 4; i <- 0 until 12; j <- 0 until 10)
      yield 200.0 + t + 2.0 * i + 3.0 * j).sum
    assert(rows.head.getDouble(0) == expect)
  }
}
