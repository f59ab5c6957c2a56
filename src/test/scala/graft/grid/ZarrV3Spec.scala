package graft.grid

import graft.{SparkTestBase, TempDirs}
import graft.grid.ZarrLayout.V3
import graft.sources.ReadCounters
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Zarr v3 interop: hand-written fixture trees (metadata authored here,
  * independent of the writer), write/open round trips across codecs,
  * version auto-detection, consolidated single-read opens, chunk-open
  * pruning through the registered scan, and clear rejections (sharding,
  * unknown codecs).
  */
class ZarrV3Spec extends SparkTestBase with TempDirs {

  private def tmp(): Path = tempDir("zarr_v3")

  private def put(root: Path, rel: String, content: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(UTF_8))
  }

  private def putBytes(root: Path, rel: String, bytes: Array[Byte]): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  private def le(doubles: Seq[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(doubles.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    doubles.foreach(bb.putDouble)
    bb.array()
  }

  test("hand-written v3 tree: default keys, gzip, fill, big-endian") {
    val root = tmp()
    put(root, "zarr.json",
      """{"zarr_format":3,"node_type":"group",
        |"attributes":{"title":"v3 fixture"}}""".stripMargin)
    // x coord: 4 int32 values, big-endian bytes codec, v2-style keys
    put(root, "x/zarr.json",
      """{"zarr_format":3,"node_type":"array","shape":[4],
        |"data_type":"int32",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4]}},
        |"chunk_key_encoding":{"name":"v2","configuration":{"separator":"."}},
        |"fill_value":0,
        |"codecs":[{"name":"bytes","configuration":{"endian":"big"}}],
        |"dimension_names":["x"]}""".stripMargin)
    putBytes(root, "x/0", {
      val bb = java.nio.ByteBuffer.allocate(16)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      Seq(10, 20, 30, 40).foreach(bb.putInt)
      bb.array()
    })
    // v: 4x3 doubles, chunks 2x3 -> chunk rows [0..1] present (gzipped,
    // default "c/<i>/<j>" keys), chunk rows [2..3] MISSING -> fill 7.5
    put(root, "v/zarr.json",
      """{"zarr_format":3,"node_type":"array","shape":[4,3],
        |"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,3]}},
        |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
        |"fill_value":7.5,
        |"codecs":[{"name":"bytes","configuration":{"endian":"little"}},
        |          {"name":"gzip","configuration":{"level":5}}],
        |"dimension_names":["x","y"]}""".stripMargin)
    val payload = le(Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(payload); g.close()
      bos.toByteArray
    }
    putBytes(root, "v/c/0/0", gz)

    val store = ZarrGridStore.open(root.toString) // auto-detects v3
    assert(store.schema.attrs("title") == "v3 fixture")
    assert(store.schema.dim("x").coords.asInstanceOf[IntCoords]
      .values.sameElements(Array(10, 20, 30, 40)))
    // y has no coordinate array -> positional ints
    assert(store.schema.dim("y").coords.asInstanceOf[IntCoords]
      .values.sameElements(Array(0, 1, 2)))
    val full = store.readVar("v", Seq((0, 4), (0, 3)))
      .asInstanceOf[Array[Double]]
    assert(full.sameElements(Array(
      1.0, 2.0, 3.0, 4.0, 5.0, 6.0, // stored chunk
      7.5, 7.5, 7.5, 7.5, 7.5, 7.5))) // missing chunk -> fill
  }

  test("write/open round trip across codecs") {
    for (comp <- Seq("none", "gzip", "zstd:3", "blosc",
      "blosc:blosclz:bit")) {
      val root = tmp().resolve(s"w_${comp.replace(':', '_')}").toString
      val store = ZarrGridStore.write(Fixtures.linearGrid, root,
        Map("t" -> 6, "lat" -> 5), comp, V3())
      assert(store.schema.dimNames == Seq("t", "lat", "lon"), comp)
      assert(store.chunkMap == Map("t" -> 6, "lat" -> 5, "lon" -> 10))
      val full = Seq((0, 24), (0, 12), (0, 10))
      assert(store.readVar("air", full).asInstanceOf[Array[Double]]
        .sameElements(Fixtures.linearGrid.readVar("air", full)
          .asInstanceOf[Array[Double]]), comp)
      // ragged lat edge: stored padded, clipped on read
      val edge = Seq((20, 4), (10, 2), (0, 10))
      assert(store.readVar("air", edge).asInstanceOf[Array[Double]]
        .sameElements(Fixtures.linearGrid.readVar("air", edge)
          .asInstanceOf[Array[Double]]), comp)
    }
    intercept[IllegalArgumentException] {
      ZarrGridStore.write(Fixtures.maskGrid, tmp().resolve("z").toString,
        Map.empty, "zlib", V3()) // v3 has no zlib codec
    }
  }

  test("consolidated v3 open costs one metadata read; listing fallback works") {
    val root = tmp().resolve("cons").toString
    ZarrGridStore.write(Fixtures.linearGrid, root, Map("t" -> 6), "gzip", V3())
    GridIO.Counters.reset()
    ZarrGridStore.open(root)
    // exists(.zmetadata) + exists(zarr.json) + read(zarr.json with
    // inline consolidated metadata) + 3 coordinate chunk reads + the
    // .graft-stats.json manifest (one read, no HEAD)
    assert(GridIO.Counters.existChecks.sum() == 2L)
    assert(GridIO.Counters.reads.sum() == 1L + 3L + 1L)
    assert(GridIO.Counters.lists.sum() == 0L)
    // strip consolidation -> per-array listing walk, same store
    val rootJson = java.nio.file.Paths.get(root, "zarr.json")
    val json = Files.readString(rootJson)
    Files.writeString(rootJson,
      """{"zarr_format":3,"node_type":"group","attributes":{}}""")
    GridIO.Counters.reset()
    val listed = ZarrGridStore.open(root)
    assert(GridIO.Counters.lists.sum() == 1L)
    val full = Seq((0, 24), (0, 12), (0, 10))
    assert(listed.readVar("air", full).asInstanceOf[Array[Double]]
      .sameElements(Fixtures.linearGrid.readVar("air", full)
        .asInstanceOf[Array[Double]]))
    Files.writeString(rootJson, json) // restore
  }

  test("registered v3 store prunes chunk opens on a dim predicate") {
    val root = tmp().resolve("reg").toString
    val store = ZarrGridStore.write(Fixtures.linearGrid, root,
      Map("t" -> 6), "blosc", V3())
    val df = new graft.XarrayContext(spark)
      .dataFrame(s"zarr_v3_prune@$root", store, store.chunkMap,
        Seq("t", "lat", "lon"))
    ReadCounters.reset()
    val rows = df.filter(col("t") >= 12)
      .agg(sum("air").as("s"), count(lit(1)).as("n")).collect()
    // t >= 12 keeps chunks 2 and 3 of 4: only their FILES open
    assert(ReadCounters.partitionsOpened.sum() == 2L)
    assert(rows.head.getLong(1) == 12L * 12 * 10)
    val expect = (for (t <- 12 until 24; i <- 0 until 12; j <- 0 until 10)
      yield 200.0 + t + 2.0 * i + 3.0 * j).sum
    assert(rows.head.getDouble(0) == expect)
  }

  test("hand-written sharded array: index, missing inner chunk, crc32c") {
    // shape [8], shard (outer chunk) [4], inner [2] -> 2 inner chunks
    // per shard. Shard 0: inner 0 present (uncompressed), inner 1
    // MISSING (all-ones index entry) -> fill 9.0. Shard 1: file absent
    // entirely -> all fill.
    val root = tmp()
    put(root, "zarr.json",
      """{"zarr_format":3,"node_type":"group","attributes":{}}""")
    put(root, "a/zarr.json",
      """{"zarr_format":3,"node_type":"array","shape":[8],
        |"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4]}},
        |"fill_value":9.0,
        |"codecs":[{"name":"sharding_indexed","configuration":{
        |  "chunk_shape":[2],
        |  "codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
        |  "index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},
        |                  {"name":"crc32c"}],
        |  "index_location":"end"}}],
        |"dimension_names":["x"]}""".stripMargin)
    val shard = {
      val bb = java.nio.ByteBuffer.allocate(16 + 32 + 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putDouble(1.5).putDouble(2.5)          // inner chunk 0
      bb.putLong(0L).putLong(16L)               // index entry 0
      bb.putLong(-1L).putLong(-1L)              // index entry 1: missing
      val crc = new java.util.zip.CRC32C()
      crc.update(bb.array(), 16, 32)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    putBytes(root, "a/c/0", shard)
    val store = ZarrGridStore.open(root.toString)
    val got = store.readVar("a", Seq((0, 8))).asInstanceOf[Array[Double]]
    assert(got.sameElements(
      Array(1.5, 2.5, 9.0, 9.0, 9.0, 9.0, 9.0, 9.0)), got.toSeq)
    // corrupt the index crc -> loud failure, not silent garbage
    shard(shard.length - 1) = (shard(shard.length - 1) ^ 0x55).toByte
    putBytes(root, "a/c/0", shard)
    val e = intercept[IllegalArgumentException](
      ZarrGridStore.open(root.toString).readVar("a", Seq((0, 8))))
    assert(e.getMessage.contains("crc32c"), e.getMessage)
  }

  test("sharded write/open round trip; partitioning is inner-chunk-granular") {
    val root = tmp().resolve("sh").toString
    val store = ZarrGridStore.write(Fixtures.linearGrid, root,
      Map("t" -> 6, "lat" -> 5), "zstd:3",
      V3(Map("t" -> 2, "lat" -> 5)))
    // stored files are SHARDS: 4 t-shards x 3 lat-shards x 1 = 12 files
    assert(store.arrays("air").sharding.exists(
      _.innerShape == Seq(2, 5, 10)))
    // the scan's chunk grid is the INNER grid, not the shard files
    assert(store.chunkMap == Map("t" -> 2, "lat" -> 5, "lon" -> 10))
    val full = Seq((0, 24), (0, 12), (0, 10))
    assert(store.readVar("air", full).asInstanceOf[Array[Double]]
      .sameElements(Fixtures.linearGrid.readVar("air", full)
        .asInstanceOf[Array[Double]]))
    // ragged lat edge (12 = 5+5+2: padded shard, inner chunks clipped
    // on read) and an unaligned multi-shard slice
    val edge = Seq((20, 4), (10, 2), (0, 10))
    assert(store.readVar("air", edge).asInstanceOf[Array[Double]]
      .sameElements(Fixtures.linearGrid.readVar("air", edge)
        .asInstanceOf[Array[Double]]))
    val sl = Seq((3, 9), (2, 7), (1, 5))
    assert(store.readVar("air", sl).asInstanceOf[Array[Double]]
      .sameElements(Fixtures.linearGrid.readVar("air", sl)
        .asInstanceOf[Array[Double]]))
    // registered scan prunes at INNER-chunk granularity (sum forces
    // data reads — a bare count() is answered from chunk metadata)
    val df = new graft.XarrayContext(spark)
      .dataFrame(s"zarr_v3_shard@$root", store, store.chunkMap,
        Seq("t", "lat", "lon"))
    ReadCounters.reset()
    val rows = df.filter(col("t") >= 18)
      .agg(sum("air").as("s"), count(lit(1)).as("n")).collect()
    assert(rows.head.getLong(1) == 6L * 12 * 10)
    // 3 of 12 t-inner-chunks survive x 3 lat-shards (12 = 5+5+2) x 1 lon
    assert(ReadCounters.partitionsOpened.sum() == 9L)
  }

  test("pruned sharded scan fetches k-of-n inner chunks' BYTES, not shards") {
    val root = tmp().resolve("shbytes").toString
    val store = ZarrGridStore.write(Fixtures.linearGrid, root,
      Map("t" -> 6, "lat" -> 5), "zstd:3",
      V3(Map("t" -> 2, "lat" -> 5)))
    val df = new graft.XarrayContext(spark)
      .dataFrame(s"zarr_v3_shbytes@$root", store, store.chunkMap,
        Seq("t", "lat", "lon"))
    // t >= 22 keeps ONE of the three inner chunks of the last t-shard
    // (x 3 lat-shards); the read path must fetch each shard's index +
    // exactly that inner chunk's byte range — strictly fewer bytes than
    // the three surviving shard FILES a whole-shard reader would pull
    val survivingShardBytes = (0 until 3).map { latShard =>
      java.nio.file.Files.size(java.nio.file.Paths.get(
        root, "air", "c", "3", latShard.toString, "0"))
    }.sum
    GridIO.Counters.reset()
    ReadCounters.reset()
    val rows = df.filter(col("t") >= 22)
      .agg(sum("air").as("s"), count(lit(1)).as("n")).collect()
    assert(rows.head.getLong(1) == 2L * 12 * 10)
    val expect = (for (t <- 22 until 24; i <- 0 until 12; j <- 0 until 10)
      yield 200.0 + t + 2.0 * i + 3.0 * j).sum
    assert(rows.head.getDouble(0) == expect)
    assert(ReadCounters.partitionsOpened.sum() == 3L)
    // ranged reads happened (index + inner chunk payloads), and no
    // whole-file chunk read did
    assert(GridIO.Counters.rangeReads.sum() >= 3L)
    assert(GridIO.Counters.reads.sum() == 0L)
    assert(GridIO.Counters.bytesRead.sum() < survivingShardBytes,
      s"read ${GridIO.Counters.bytesRead.sum()} B, whole shards are " +
        s"$survivingShardBytes B")
  }

  test("writeDistributed emits a byte-identical sharded tree") {
    assert(spark.sparkContext.defaultParallelism >= 1) // session up
    // inner chunks split both chunked dims (the layout matrix in
    // ZarrWriteIdentitySpec splits only t)
    val serial = tmp().resolve("ser").toString
    ZarrGridStore.write(Fixtures.linearGrid, serial,
      Map("t" -> 6, "lat" -> 5), "zstd:3", V3(Map("t" -> 3, "lat" -> 1)))
    val dist = tmp().resolve("dist").toString
    ZarrGridStore.writeDistributed(Fixtures.linearGrid, dist,
      Map("t" -> 6, "lat" -> 5), "zstd:3", V3(Map("t" -> 3, "lat" -> 1)))
    TreeBytes.assertTreesEqual(serial, dist)
  }

  test("v3 transpose codec: stored axis permutation inverts on read") {
    // 2x3 array stored with order [1,0] (column-major): stored shape
    // 3x2, element (x,y) at stored position (y,x)
    val root = tmp()
    put(root, "zarr.json",
      """{"zarr_format":3,"node_type":"group","attributes":{}}""")
    put(root, "v/zarr.json",
      """{"zarr_format":3,"node_type":"array","shape":[2,3],
        |"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,3]}},
        |"fill_value":"NaN",
        |"codecs":[{"name":"transpose","configuration":{"order":[1,0]}},
        |          {"name":"bytes","configuration":{"endian":"little"}},
        |          {"name":"zstd","configuration":{"level":3}}],
        |"dimension_names":["x","y"]}""".stripMargin)
    putBytes(root, "v/c/0/0", {
      val bb = java.nio.ByteBuffer.allocate(48)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      // v(x, y) = 10x + y laid out as stored C-order over (y, x)
      for (y <- 0 until 3; x <- 0 until 2) bb.putDouble(10.0 * x + y)
      com.github.luben.zstd.Zstd.compress(bb.array(), 3)
    })
    val store = ZarrGridStore.open(root.toString)
    val got = store.readVar("v", Seq((0, 2), (0, 3)))
      .asInstanceOf[Array[Double]]
    assert(got.sameElements(Array(0.0, 1.0, 2.0, 10.0, 11.0, 12.0)),
      got.toSeq)
    // a non-permutation order is rejected loudly
    val bad = tmp()
    put(bad, "zarr.json",
      """{"zarr_format":3,"node_type":"group","attributes":{}}""")
    put(bad, "w/zarr.json",
      """{"zarr_format":3,"node_type":"array","shape":[2,3],
        |"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,3]}},
        |"fill_value":0.0,
        |"codecs":[{"name":"transpose","configuration":{"order":[1,1]}},
        |          {"name":"bytes","configuration":{"endian":"little"}}],
        |"dimension_names":["x","y"]}""".stripMargin)
    assert(intercept[IllegalArgumentException](
      ZarrGridStore.open(bad.toString))
      .getMessage.contains("permutation"))
  }

  test("vlen-utf8 string arrays: hand-written tree, string fill, zstd") {
    // foreign layout: zarr-python 3's default string encoding —
    // data_type "string", vlen-utf8 codec, optional compressor after it
    val root = tmp()
    put(root, "zarr.json",
      """{"zarr_format":3,"node_type":"group","attributes":{}}""")
    put(root, "station/zarr.json",
      """{"zarr_format":3,"node_type":"array","shape":[3],
        |"data_type":"string",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[3]}},
        |"fill_value":"",
        |"codecs":[{"name":"vlen-utf8"}],
        |"dimension_names":["station"]}""".stripMargin)
    putBytes(root, "station/c/0",
      ZarrGridStore.encodeVlen(Array("alpha", "bē", "丙")))
    // q: string data var, chunks of 2, vlen-utf8 + zstd, fill "n/a";
    // chunk 0 present, chunk 1 (station 2 + padding) MISSING -> fill
    put(root, "q/zarr.json",
      """{"zarr_format":3,"node_type":"array","shape":[3],
        |"data_type":"string",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2]}},
        |"fill_value":"n/a",
        |"codecs":[{"name":"vlen-utf8"},
        |          {"name":"zstd","configuration":{"level":3}}],
        |"dimension_names":["station"]}""".stripMargin)
    putBytes(root, "q/c/0", com.github.luben.zstd.Zstd.compress(
      ZarrGridStore.encodeVlen(Array("good", "böse")), 3))
    val store = ZarrGridStore.open(root.toString)
    assert(store.schema.dim("station").coords.asInstanceOf[StringCoords]
      .values.sameElements(Array("alpha", "bē", "丙")))
    assert(store.schema.vars.map(v => (v.name, v.dtype)) ==
      Seq(("q", GString)))
    assert(store.readVar("q", Seq((0, 3))).asInstanceOf[Array[String]]
      .sameElements(Array("good", "böse", "n/a")))
    // unaligned sub-range through the gather path
    assert(store.readVar("q", Seq((1, 2))).asInstanceOf[Array[String]]
      .sameElements(Array("böse", "n/a")))
    // round trip through the writer: string coord + string var re-emit
    // as data_type "string" with vlen-utf8 chunks and re-open
    val rt = ZarrGridStore.write(store, tmp().resolve("rt").toString,
      Map("station" -> 2), "zstd:3", V3())
    assert(rt.schema.dim("station").coords.asInstanceOf[StringCoords]
      .values.sameElements(Array("alpha", "bē", "丙")))
    assert(rt.readVar("q", Seq((0, 3))).asInstanceOf[Array[String]]
      .sameElements(Array("good", "böse", "n/a")))
    // sharded string arrays: vlen inner chunks under the shard index
    // (the full matrix lives in ZarrShardedVlenSpec)
    val sh = ZarrGridStore.write(store, tmp().resolve("sh").toString,
      Map("station" -> 2), "zstd:3", V3(Map("station" -> 1)))
    assert(sh.arrays("q").sharding.exists(_.innerShape == Seq(1)))
    assert(sh.readVar("q", Seq((0, 3))).asInstanceOf[Array[String]]
      .sameElements(Array("good", "böse", "n/a")))
  }

  test("string variable serves through the registered scan") {
    val root = tmp().resolve("vlenscan").toString
    val store = ZarrGridStore.write(Fixtures.stationQualityGrid, root,
      Map("station" -> 4, "time" -> 5), "zstd:3", V3())
    val df = new graft.XarrayContext(spark)
      .dataFrame(s"zarr_vlen_scan@$root", store, store.chunkMap,
        Seq("station", "time"))
    val rows = df.filter(col("quality") === "good")
      .agg(count(lit(1)).as("n"), sum("reading").as("s")).collect()
    // (i + t) % 3 == 0 over 8x10: count the matching cells exactly
    val cells = for (i <- 0 until 8; t <- 0 until 10 if (i + t) % 3 == 0)
      yield 100.0 + 7.0 * i + 0.25 * t
    assert(rows.head.getLong(0) == cells.size.toLong)
    assert(rows.head.getDouble(1) == cells.sum)
  }

  test("sharding config errors and unknown codecs rejected clearly") {
    def bad(codecs: String): Throwable = {
      val root = tmp()
      put(root, "zarr.json",
        """{"zarr_format":3,"node_type":"group","attributes":{}}""")
      put(root, "a/zarr.json",
        s"""{"zarr_format":3,"node_type":"array","shape":[4],
           |"data_type":"float64",
           |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4]}},
           |"fill_value":0.0,
           |"codecs":$codecs,
           |"dimension_names":["a"]}""".stripMargin)
      intercept[IllegalArgumentException](ZarrGridStore.open(root.toString))
    }
    // nested sharding
    assert(bad("""[{"name":"sharding_indexed","configuration":{
        "chunk_shape":[2],
        "codecs":[{"name":"sharding_indexed","configuration":{}}]}}]""")
      .getMessage.contains("nested"))
    // inner shape must divide the shard shape
    assert(bad("""[{"name":"sharding_indexed","configuration":{
        "chunk_shape":[3],
        "codecs":[{"name":"bytes","configuration":{"endian":"little"}}]}}]""")
      .getMessage.contains("evenly divide"))
    // big-endian shard index is out of spec
    assert(bad("""[{"name":"sharding_indexed","configuration":{
        "chunk_shape":[2],
        "codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
        "index_codecs":[{"name":"bytes","configuration":{"endian":"big"}}]}}]""")
      .getMessage.contains("little-endian"))
    assert(bad("""[{"name":"bytes"},{"name":"crc32c"}]""")
      .getMessage.contains("crc32c"))
    assert(bad("""[{"name":"bytes"},
      {"name":"blosc","configuration":{"cname":"lizard"}}]""")
      .getMessage.contains("lizard"))
    assert(bad("""[{"name":"gzip","configuration":{"level":1}}]""")
      .getMessage.contains("bytes"))
  }
}
