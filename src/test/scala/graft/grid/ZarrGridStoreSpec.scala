package graft.grid

import graft.{SparkTestBase, TempDirs}
import graft.sources.ReadCounters
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

/** Real Zarr v2 tree interop: write/open round trips, the v2 stored-chunk
  * rules (padded edges, missing-chunk fill, dimension separators, both
  * endiannesses), CF time decode, and the end-to-end registration with
  * chunk-open pruning pins.
  */
class ZarrGridStoreSpec extends SparkTestBase with TempDirs {

  private def tmp(): Path = tempDir("zarr_spec")

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

  test("write/open round trip preserves schema, coords and values") {
    val root = tmp().resolve("store").toString
    val src = Fixtures.linearGrid // t 24 (int), lat 12, lon 10 (double)
    val store = ZarrGridStore.write(src, root,
      Map("t" -> 6, "lat" -> 5), "zlib")
    assert(store.schema.dimNames == Seq("t", "lat", "lon"))
    assert(store.schema.dim("t").coords.isInstanceOf[IntCoords])
    assert(store.schema.dim("lat").coords.asInstanceOf[DoubleCoords]
      .values.sameElements(src.schema.dim("lat").coords
        .asInstanceOf[DoubleCoords].values))
    assert(store.schema.vars.map(_.name) == Seq("air"))
    assert(store.chunkMap == Map("t" -> 6, "lat" -> 5, "lon" -> 10))
    val full = Seq((0, 24), (0, 12), (0, 10))
    assert(store.readVar("air", full).asInstanceOf[Array[Double]]
      .sameElements(src.readVar("air", full).asInstanceOf[Array[Double]]))
    // ragged lat edge (12 = 5+5+2): stored files are PADDED to the full
    // chunk byte size per the v2 spec (zlib-compressed, so check decode)
    val edge = store.readVar("air", Seq((0, 6), (10, 2), (0, 10)))
      .asInstanceOf[Array[Double]]
    assert(edge.sameElements(
      src.readVar("air", Seq((0, 6), (10, 2), (0, 10)))
        .asInstanceOf[Array[Double]]))
    // unaligned multi-chunk slice assembles correctly
    val sl = Seq((4, 9), (3, 7), (2, 5))
    assert(store.readVar("air", sl).asInstanceOf[Array[Double]]
      .sameElements(src.readVar("air", sl).asInstanceOf[Array[Double]]))
  }

  test("compressor grammar: none, zstd, gzip round trip") {
    for (comp <- Seq("none", "zstd:3", "gzip")) {
      val root = tmp().resolve(s"c_${comp.replace(':', '_')}").toString
      val store = ZarrGridStore.write(Fixtures.maskGrid, root,
        Map("lat" -> 5), comp)
      val full = Seq((0, 12), (0, 10))
      assert(store.readVar("mask", full).asInstanceOf[Array[Double]]
        .sameElements(Fixtures.maskGrid.readVar("mask", full)
          .asInstanceOf[Array[Double]]), comp)
    }
    intercept[IllegalArgumentException] {
      ZarrGridStore.write(Fixtures.maskGrid,
        tmp().resolve("bad").toString, Map.empty, "lz77")
    }
  }

  test("hand-written tree: big-endian, / separator, fill_value, missing chunk") {
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    // 1-D coord x = [0,1,2,3] as <i4
    put(root, "x/.zarray",
      """{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"<i4",
        |"compressor":null,"fill_value":null,"order":"C","filters":null}"""
        .stripMargin)
    put(root, "x/.zattrs", """{"_ARRAY_DIMENSIONS":["x"]}""")
    val xb = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 4).foreach(xb.putInt)
    putBytes(root, "x/0", xb.array())
    // 2-D var v(x, y): BIG-endian f8, "/"-separated chunks of (2, 2),
    // y has NO coordinate array -> positional ints; chunk (1, 0)
    // missing -> fill_value 7.5
    put(root, "v/.zarray",
      """{"zarr_format":2,"shape":[4,3],"chunks":[2,2],"dtype":">f8",
        |"compressor":null,"fill_value":7.5,"order":"C","filters":null,
        |"dimension_separator":"/"}""".stripMargin)
    put(root, "v/.zattrs", """{"_ARRAY_DIMENSIONS":["x","y"],"units":"K"}""")
    def chunk(vals: Double*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(vals.length * 8)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      vals.foreach(bb.putDouble)
      bb.array()
    }
    // values v(i,j) = 10 i + j; edge chunks padded with anything (use -1)
    putBytes(root, "v/0/0", chunk(0, 1, 10, 11))
    putBytes(root, "v/0/1", chunk(2, -1, 12, -1))
    // v/1/0 deliberately MISSING (x rows 2-3, y cols 0-1)
    putBytes(root, "v/1/1", chunk(22, -1, 32, -1))
    val store = ZarrGridStore.open(root.toString)
    assert(store.schema.dimNames == Seq("x", "y"))
    assert(store.schema.dim("x").coords.asInstanceOf[IntCoords]
      .values.sameElements(Array(0, 1, 2, 3)))
    // y synthesized positionally
    assert(store.schema.dim("y").coords.asInstanceOf[IntCoords]
      .values.sameElements(Array(0, 1, 2)))
    assert(store.schema.vars.head.attrs("units") == "K")
    val got = store.readVar("v", Seq((0, 4), (0, 3)))
      .asInstanceOf[Array[Double]]
    assert(got.sameElements(Array[Double](
      0, 1, 2, 10, 11, 12, 7.5, 7.5, 22, 7.5, 7.5, 32)))
  }

  test("CF time axes decode through the two-tier calendar bridge") {
    val root = tmp()
    put(root, ".zgroup", """{"zarr_format":2}""")
    def coord(name: String, units: String, calendar: Option[String],
        offsets: Seq[Long]): Unit = {
      put(root, s"$name/.zarray",
        s"""{"zarr_format":2,"shape":[${offsets.length}],
           |"chunks":[${offsets.length}],"dtype":"<i8","compressor":null,
           |"fill_value":null,"order":"C","filters":null}""".stripMargin)
      val cal = calendar.map(c => s""","calendar":"$c"""").getOrElse("")
      put(root, s"$name/.zattrs",
        s"""{"_ARRAY_DIMENSIONS":["$name"],"units":"$units"$cal}""")
      val bb = java.nio.ByteBuffer.allocate(offsets.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      offsets.foreach(bb.putLong)
      putBytes(root, s"$name/0", bb.array())
    }
    coord("tn", "days since 2000-01-01", Some("noleap"), Seq(0L, 59L))
    coord("t3", "days since 2000-01-01", Some("360_day"), Seq(0L, 180L))
    coord("lead", "hours", None, Seq(0L, 6L))
    put(root, "v/.zarray",
      """{"zarr_format":2,"shape":[2,2,2],"chunks":[2,2,2],"dtype":"<f8",
        |"compressor":null,"fill_value":null,"order":"C","filters":null}"""
        .stripMargin)
    put(root, "v/.zattrs", """{"_ARRAY_DIMENSIONS":["tn","t3","lead"]}""")
    putBytes(root, "v/0.0.0", {
      val bb = java.nio.ByteBuffer.allocate(64)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until 8).foreach(i => bb.putDouble(i))
      bb.array()
    })
    val store = ZarrGridStore.open(root.toString)
    // noleap (GregorianLike tier): real-timeline timestamps; offset 59
    // is 2000-03-01 in the calendar's own reckoning (no Feb 29)
    val tn = store.schema.dim("tn")
    assert(tn.calendar.contains("noleap"))
    assert(tn.coords.asInstanceOf[TimeCoords].values.sameElements(Array(
      graft.time.CfCalendar.offsetToMicros(0L, "days since 2000-01-01", "noleap"),
      graft.time.CfCalendar.gregorianMicros(2000, 3, 1))))
    // 360_day (NonGregorian tier): int64 offsets survive + metadata
    val t3 = store.schema.dim("t3")
    assert(t3.calendar.contains("360_day") &&
      t3.units.contains("days since 2000-01-01"))
    assert(t3.coords.asInstanceOf[LongCoords].values.sameElements(
      Array(0L, 180L)))
    // bare duration units -> day-time interval micros
    assert(store.schema.dim("lead").coords.asInstanceOf[DurationCoords]
      .values.sameElements(Array(0L, 6L * 3600000000L)))
  }

  test("timestamp and duration coordinates round trip through write") {
    val root = tmp().resolve("fc").toString
    val store = ZarrGridStore.write(Fixtures.forecastGrid, root,
      Map("lead" -> 2), "none")
    val src = Fixtures.forecastGrid.schema
    assert(store.schema.dim("time").coords.asInstanceOf[TimeCoords]
      .values.sameElements(
        src.dim("time").coords.asInstanceOf[TimeCoords].values))
    assert(store.schema.dim("lead").coords.asInstanceOf[DurationCoords]
      .values.sameElements(
        src.dim("lead").coords.asInstanceOf[DurationCoords].values))
  }

  test("malformed trees raise clear errors") {
    def bad(zarray: String,
        zattrs: String = """{"_ARRAY_DIMENSIONS":["x"]}"""): Throwable = {
      val root = tmp()
      put(root, ".zgroup", """{"zarr_format":2}""")
      put(root, "a/.zarray", zarray)
      put(root, "a/.zattrs", zattrs)
      intercept[IllegalArgumentException](ZarrGridStore.open(root.toString))
    }
    // every numcodecs blosc cname decodes now; a cname with NO JVM
    // implementation must still fail fast at open, not on an executor
    assert(bad(
      """{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"<f8",
        |"compressor":{"id":"blosc","cname":"lizard"},"fill_value":null,
        |"order":"C","filters":null}""".stripMargin)
      .getMessage.contains("lizard"))
    assert(bad( // F now decodes; anything else is still rejected
      """{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"<f8",
        |"compressor":null,"fill_value":null,"order":"K","filters":null}"""
        .stripMargin).getMessage.contains("order"))
    assert(bad( // shuffle/delta now decode; others must still fail fast
      """{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"<f8",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":[{"id":"fixedscaleoffset"}]}""".stripMargin)
      .getMessage.contains("filter"))
    assert(bad( // complex64 — still unsupported (u2/i2/u1/i1/u4 now decode)
      """{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"<c8",
        |"compressor":null,"fill_value":null,"order":"C","filters":null}"""
        .stripMargin).getMessage.contains("dtype"))
    assert(bad(
      """{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"<f8",
        |"compressor":null,"fill_value":null,"order":"C","filters":null}"""
        .stripMargin, zattrs = """{"units":"K"}""")
      .getMessage.contains("_ARRAY_DIMENSIONS"))
    // not a group at all
    val empty = tmp()
    assert(intercept[IllegalArgumentException](
      ZarrGridStore.open(empty.toString)).getMessage.contains(".zgroup"))
  }

  test("an over-long chunk: a coordinate reads its prefix, a variable fails") {
    // an append lands a coordinate's grown chunk before the metadata
    // that declares the new length; no such window exists for a data
    // variable, whose over-long chunk stays an error
    val root = tmp()
    def le(vs: Double*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(vs.size * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vs.foreach(bb.putDouble)
      bb.array()
    }
    put(root, ".zgroup", """{"zarr_format":2}""")
    Seq("t", "v").foreach { a =>
      put(root, s"$a/.zarray",
        """{"zarr_format":2,"shape":[3],"chunks":[3],"dtype":"<f8",
          |"compressor":null,"fill_value":null,"order":"C",
          |"filters":null}""".stripMargin)
      put(root, s"$a/.zattrs", """{"_ARRAY_DIMENSIONS":["t"]}""")
      putBytes(root, s"$a/0", le(1.0, 2.0, 3.0, 4.0))
    }
    val store = ZarrGridStore.open(root.toString)
    assert(store.schema.dim("t").coords.asInstanceOf[DoubleCoords]
      .values.toSeq == Seq(1.0, 2.0, 3.0))
    val err = intercept[IllegalArgumentException](
      store.readVar("v", Seq((0, 3))))
    assert(err.getMessage.contains("decodes to 32 bytes, expected 24"),
      err.getMessage)
  }

  test("registered zarr store prunes chunk opens on a dim predicate") {
    val root = tmp().resolve("reg").toString
    val store = ZarrGridStore.write(Fixtures.linearGrid, root,
      Map("t" -> 6), "zlib")
    val df = new graft.XarrayContext(spark)
      .dataFrame(s"zarr_prune@$root", store, store.chunkMap,
        Seq("t", "lat", "lon"))
    ReadCounters.reset()
    val rows = df.filter(col("t") >= 12)
      .agg(sum("air").as("s"), count(lit(1)).as("n")).collect()
    // t >= 12 keeps chunks 2 and 3 of 4: only their FILES open
    assert(ReadCounters.partitionsOpened.sum() == 2L)
    assert(rows.head.getLong(1) == 12L * 12 * 10)
    // exact value: sum over t in [12,24) of (200 + t + 2i + 3j)
    val expect = (for (t <- 12 until 24; i <- 0 until 12; j <- 0 until 10)
      yield 200.0 + t + 2.0 * i + 3.0 * j).sum
    assert(rows.head.getDouble(0) == expect)
  }

  test("tail block spanning several disk chunks: assembled, stats withheld") {
    // time 12 at chunk 5 -> chunks of 5, 5, 2 steps (the last stored
    // padded). Block (5, 7) starts chunk-aligned and ends at the dim
    // size but covers chunks 1 AND 2 — it must assemble both and must
    // get NO single-chunk stats (unsound bounds would feed pruning)
    val store = ZarrGridStore.write(Fixtures.airSmall,
      tmp().resolve("tail").toString, Map("time" -> 5))
    val law = Fixtures.airSmall.laws("air")
    val got = store.readVar("air", Seq((5, 7), (0, 11), (0, 10)))
      .asInstanceOf[Array[Double]]
    assert(got.length == 7 * 11 * 10)
    for (t <- 0 until 7; i <- 0 until 11; j <- 0 until 10)
      assert(got(t * 110 + i * 10 + j) == law(Array(5 + t, i, j)),
        s"cell ($t,$i,$j)")
    assert(store.varBounds("air", Seq((5, 7), (0, 11), (0, 10))).isEmpty)
    // the genuinely ragged FINAL chunk still serves its stats
    assert(store.varBounds("air", Seq((10, 2), (0, 11), (0, 10))).nonEmpty)
  }

  test("appendFromRows: new chunks past the extent, old files untouched") {
    val ctx = new graft.XarrayContext(spark)
    def slabDf(lo: Int, hi: Int) = ctx.dataFrame(s"zappend_slab$lo",
      Fixtures.linearGridSlice(lo, hi), Map("t" -> 6),
      Seq("t", "lat", "lon"))
    def append(root: String, lo: Int, hi: Int) =
      ZarrGridStore.appendFromRows(slabDf(lo, hi), root, "t")
    val root = tmp().resolve("append").toString
    ZarrGridStore.write(Fixtures.linearGridSlice(0, 12), root,
      Map("t" -> 6), "zstd")
    val airDir = new java.io.File(root, "air")
    def chunkMtimes = airDir.listFiles()
      .filter(_.getName.matches("\\d+(\\.\\d+)*"))
      .map(f => f.getName -> f.lastModified).toMap
    val before = chunkMtimes
    assert(before.keySet == Set("0.0.0", "1.0.0"))
    append(root, 12, 24)
    // old chunk files untouched (same mtime), two new ones
    val after = chunkMtimes
    assert(after.keySet == Set("0.0.0", "1.0.0", "2.0.0", "3.0.0"))
    before.foreach { case (n, m) => assert(after(n) == m, s"$n rewritten") }
    // reopened store sees the seamless 24-step grid with merged stats
    val store = ZarrGridStore.open(root)
    assert(store.schema.dim("t").size == 24)
    val law = Fixtures.linearGrid.laws("air")
    val got = store.readVar("air", Seq((6, 12), (0, 12), (0, 10)))
      .asInstanceOf[Array[Double]] // spans the append boundary
    for (t <- 0 until 12; i <- 0 until 12; j <- 0 until 10)
      assert(got(t * 120 + i * 10 + j) == law(Array(6 + t, i, j)))
    // appended chunks carry value stats: chunk 3 = t 18..23
    assert(store.varBounds("air", Seq((18, 6), (0, 12), (0, 10)))
      .contains((200.0 + 18.0, 200.0 + 23.0 + 22.0 + 27.0)))
    // misuse is rejected: wrong invariant coords, then a retried
    // (overlapping) slab that would otherwise be silently doubled
    intercept[IllegalArgumentException] {
      ZarrGridStore.appendFromRows(
        slabDf(24, 30).withColumn("lat", col("lat") + 5.0), root, "t")
    }
    val dup = intercept[IllegalArgumentException](append(root, 12, 24))
    assert(dup.getMessage.contains("overlap"))
    append(root, 24, 27)
    // 27 % 6 != 0: appending onto the ragged extent read-modify-writes
    // the partial edge chunk (t 24..26 + t 27..29 merge into chunk 4)
    val grown = append(root, 27, 30)
    assert(grown.schema.dim("t").size == 30)
    val merged = grown.readVar("air", Seq((24, 6), (0, 12), (0, 10)))
      .asInstanceOf[Array[Double]]
    for (t <- 0 until 6; i <- 0 until 12; j <- 0 until 10)
      assert(merged(t * 120 + i * 10 + j) == law(Array(24 + t, i, j)),
        s"edge cell ($t,$i,$j)")
    // the merged edge chunk's stats were recomputed over old + new data
    assert(grown.varBounds("air", Seq((24, 6), (0, 12), (0, 10)))
      .contains((200.0 + 24.0, 200.0 + 29.0 + 22.0 + 27.0)))
    // an UNCHUNKED axis grows too: `.zarray` pins its chunk length at
    // the original extent, so the appended slab lands in a new chunk
    val uroot = tmp().resolve("append-unchunked").toString
    ZarrGridStore.write(Fixtures.linearGridSlice(0, 12), uroot, Map.empty)
    val ugrown = append(uroot, 12, 24)
    assert(ugrown.arrays("air").chunkShape.head == 12)
    val ugot = ugrown.readVar("air", Seq((0, 24), (0, 12), (0, 10)))
      .asInstanceOf[Array[Double]]
    for (t <- 0 until 24; i <- 0 until 12; j <- 0 until 10)
      assert(ugot(t * 120 + i * 10 + j) == law(Array(t, i, j)))
  }

  test("DSv2 scan over a zarr store: pruning and projection skip chunk files") {
    val ctx = new graft.XarrayContext(spark)
    val store = ZarrGridStore.write(Fixtures.pruneGrid,
      tmp().resolve("scan").toString, Map("time" -> 25))
    val df = ctx.dataFrame("zdisk1", store, store.chunkMap, Seq("time", "lat"))
    ReadCounters.reset()
    // collect, not count(): the filtered count is metadata-answered and
    // would open zero chunk files
    val n = df.filter(col("time") >= to_timestamp(lit("2020-03-16 00:00:00")))
      .collect().length
    assert(n == 125)
    assert(ReadCounters.partitionsOpened.sum() == 1L)

    // projection pushdown means the chunk files of an unprojected
    // variable are never opened: two-var store, select one
    val dir2 = tmp().resolve("proj").toString
    val store2 = ZarrGridStore.write(Fixtures.twoVarGrid, dir2,
      Map("time" -> 5))
    val df2 = ctx.dataFrame("zdisk2", store2, store2.chunkMap,
      Seq("time", "lat"))
    ReadCounters.reset()
    df2.select("temperature").collect()
    assert(ReadCounters.varReadCount("temperature") == 2L)
    assert(ReadCounters.varReadCount("precipitation") == 0L)
    // the files exist on disk but were not needed
    assert(Files.exists(Paths.get(dir2, "precipitation", "0.0")))
  }

  test("fromDatasetAuto: byte budget picks the chunk spec end-to-end") {
    // (lat,lon) slice = 110 doubles = 880 B; 2000 B budget -> time -> 2
    // (the on-disk time chunk of 1 divides it)
    val ctx = new graft.XarrayContext(spark)
    val store = ZarrGridStore.write(Fixtures.airSmall,
      tmp().resolve("auto").toString, Map("time" -> 1))
    ctx.fromDatasetAuto("air_auto", store, budgetBytes = 2000)
    ReadCounters.reset()
    val n = spark.sql("SELECT time, lat, lon, air FROM air_auto")
      .collect().length
    assert(n == 12 * 11 * 10)
    assert(ReadCounters.partitionsOpened.sum() == 6L) // 12 days / 2
  }

  test("fromDatasetAuto snaps the spec to a zarr store's on-disk chunks") {
    // (lat,lon) slice = 120 doubles = 960 B; an 8000 B budget alone
    // would pick t -> 8, which straddles the on-disk t=6 chunks (every
    // partition would decode two files); snapping picks a whole
    // multiple of 6 instead: 24 steps / 6 = 4 partitions
    val ctx = new graft.XarrayContext(spark)
    val store = ZarrGridStore.write(Fixtures.linearGrid,
      tmp().resolve("snap").toString, Map("t" -> 6))
    ctx.fromDatasetAuto("lin_auto", store, budgetBytes = 8000)
    ReadCounters.reset()
    val n = spark.sql("SELECT t, lat, lon, air FROM lin_auto")
      .collect().length
    assert(n == 24 * 12 * 10)
    val parts = ReadCounters.partitionsOpened.sum()
    assert(parts == 4L, s"$parts partitions: the auto t chunk of " +
      s"${24 / parts} is not a whole multiple of the on-disk 6")
  }

  test("attrs + calendar metadata round-trip: store, pivot, template recovery") {
    val base = Fixtures.airSmall
    val schema = base.schema.copy(
      dims = base.schema.dims.map(d => if (d.name == "time")
        d.copy(attrs = Map("axis" -> "T", "long name" -> "time of obs"))
      else d),
      vars = base.schema.vars.map(_.copy(attrs = Map("units" -> "K"))),
      attrs = Map("title" -> "air small", "institution" -> "graft test"))
    val re = ZarrGridStore.write(SyntheticGridStore(schema, base.laws),
      tmp().resolve("attrs").toString, Map("time" -> 6))
    // dataset / dim / var attrs survive the on-disk metadata (incl. the
    // space in "long name")
    assert(re.schema.attrs == schema.attrs)
    assert(re.schema.dim("time").attrs ==
      Map("axis" -> "T", "long name" -> "time of obs"))
    assert(re.schema.vars.head.attrs == Map("units" -> "K"))
    // ...and flow onto the pivoted Spark columns
    val df = new graft.XarrayContext(spark).dataFrame("attrs_grid", re,
      Map("time" -> 6), Seq("time", "lat", "lon"))
    assert(df.schema("air").metadata.getString("xarray:attr:units") == "K")
    assert(df.schema("time").metadata.getString("xarray:attr:axis") == "T")
    // ...and template recovery restores them after grid -> SQL -> grid
    // (reference ds.py:72-147)
    val res = GridResult.toGrid(
      df.filter(col("lat") > 60).select("time", "lat", "lon", "air"),
      Seq("time", "lat", "lon"))
    val mem = ArrayGridStore.fromResult(res, re.schema)
    assert(mem.schema.attrs == schema.attrs)
    assert(mem.schema.dim("time").attrs("axis") == "T")
    assert(mem.schema.vars.find(_.name == "air").get.attrs("units") == "K")
    // calendar/units also persist (360_day fixture)
    val cal = ZarrGridStore.write(Fixtures.cal360Grid,
      tmp().resolve("cal").toString, Map("time" -> 90)).schema.dim("time")
    assert(cal.calendar.contains("360_day") &&
      cal.units.contains("days since 2000-01-01"))
  }

  test("values round-trip exactly for all numeric dtypes") {
    val time = TimeCoords(Array(0L, 86400000000L))
    val x = IntCoords(Array(0, 1, 2))
    val schema = GridSchema(
      Seq(DimDef("time", time), DimDef("x", x)),
      Seq(
        VarDef("d", Seq("time", "x"), GDouble),
        VarDef("f", Seq("time", "x"), GFloat),
        VarDef("i", Seq("time", "x"), GInt),
        VarDef("l", Seq("time", "x"), GLong)))
    import ZarrGridStoreSpec.Law
    val src = SyntheticGridStore(schema,
      Map("d" -> Law(1.25), "f" -> Law(0.5), "i" -> Law(2.0), "l" -> Law(3.0)))
    for (comp <- Seq("none", "zstd", "blosc")) {
      val store = ZarrGridStore.write(src,
        tmp().resolve(s"dtypes_$comp").toString, Map("time" -> 1), comp)
      for (v <- Seq("d", "f", "i", "l")) {
        assert(store.schema.vars.find(_.name == v).get.dtype ==
          schema.vars.find(_.name == v).get.dtype, s"$comp $v")
        val a = src.readVar(v, Seq((1, 1), (0, 3)))
        val b = store.readVar(v, Seq((1, 1), (0, 3)))
        assert(a.asInstanceOf[Array[_]].toSeq ==
          b.asInstanceOf[Array[_]].toSeq, s"$comp $v")
      }
    }
  }
}

object ZarrGridStoreSpec {
  final case class Law(m: Double) extends GridFun {
    def apply(idx: Array[Int]): Double = m * (idx(0) * 3 + idx(1)) - 2.5
  }
}
