package graft.grid

import graft.{SparkTestBase, TempDirs}
import graft.sources.ReadCounters
import org.apache.spark.sql.functions._

import java.nio.ByteBuffer
import java.nio.ByteOrder
import java.nio.file.{Files, Path}

/** Raw numpy time dtypes (`<M8[ns]`, `<m8[us]`, `>M8[ms]`, v3
  * extension objects) and `<u8`/uint64 — the storage layouts plain
  * zarr-python emits for numpy arrays without CF encoding (reference
  * xarray_sql/df.py:395, tests/test_cft.py:165-170).
  */
class ZarrTimeDtypeSpec extends SparkTestBase with TempDirs {

  private def tmp(): Path = tempDir("zarr_m8")

  private val conf = GridIO.driverConf()

  test("<M8[ns] time coordinate opens as µs timestamps and prunes") {
    val root = tmp().resolve("m8").toString
    Fixtures.writeM8Tree(root)
    val store = ZarrGridStore.open(root)
    val tc = store.schema.dim("time").coords.asInstanceOf[TimeCoords]
    val epoch2021us = 1609459200L * 1000000L
    assert(tc.values(0) == epoch2021us)
    assert(tc.values(23) == epoch2021us + 23L * 3600000000L)
    // the decoded data variable is intact
    val temp = store.readVar("temp", Seq((0, 24))).asInstanceOf[Array[Double]]
    assert(temp(13) == 15.0 + 0.5 * 13)
    // registered scan: a BETWEEN over the M8 axis prunes to the chunks
    // whose µs zone maps survive (hours 18.. = 1 of 4 t-chunks)
    val df = new graft.XarrayContext(spark)
      .dataFrame(s"m8@$root", store, store.chunkMap, Seq("time"))
    ReadCounters.reset()
    val rows = df.filter(col("time") >=
        lit("2021-01-01 18:00:00").cast("timestamp"))
      .agg(sum("temp").as("s"), count(lit(1)).as("n")).collect()
    assert(rows.head.getLong(1) == 6L)
    assert(rows.head.getDouble(0) == (18 until 24).map(15.0 + 0.5 * _).sum)
    assert(ReadCounters.partitionsOpened.sum() == 1L)
  }

  test(">M8[ms] big-endian and <m8[us] timedelta decode") {
    val root = tmp().resolve("be").toString
    GridIO.mkdirs(root, conf)
    GridIO.writeString(s"$root/.zgroup", """{"zarr_format":2}""", conf)
    def arr(name: String, dtype: String, n: Int, bytes: Array[Byte]): Unit = {
      GridIO.mkdirs(s"$root/$name", conf)
      GridIO.writeString(s"$root/$name/.zarray",
        s"""{"zarr_format":2,"shape":[$n],"chunks":[$n],"dtype":"$dtype",
           |"compressor":null,"fill_value":null,"order":"C",
           |"filters":null}""".stripMargin, conf)
      GridIO.writeString(s"$root/$name/.zattrs",
        s"""{"_ARRAY_DIMENSIONS":["$name"]}""", conf)
      GridIO.write(s"$root/$name/0", bytes, conf)
    }
    val ms = ByteBuffer.allocate(3 * 8).order(ByteOrder.BIG_ENDIAN)
    Seq(0L, 1000L, 61000L).foreach(ms.putLong) // big-endian milliseconds
    arr("t", ">M8[ms]", 3, ms.array())
    val us = ByteBuffer.allocate(3 * 8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0L, 250000L, 4000000L).foreach(us.putLong) // µs timedeltas
    arr("d", "<m8[us]", 3, us.array())
    // coarse units: days (and numpy's exactly-7-day weeks)
    val db = ByteBuffer.allocate(3 * 8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0L, 1L, 31L).foreach(db.putLong)
    arr("td", "<M8[D]", 3, db.array())
    val wb = ByteBuffer.allocate(3 * 8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0L, 1L, 52L).foreach(wb.putLong)
    arr("tw", "<m8[W]", 3, wb.array())
    val vb = ByteBuffer.allocate(3 * 8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(1.0, 2.0, 3.0).foreach(vb.putDouble)
    arr("v", "<f8", 3, vb.array())
    // v spans its own dim; t and d are coordinate arrays of theirs —
    // make v span t so the dataset has a data var over the M8 axis
    GridIO.writeString(s"$root/v/.zattrs",
      """{"_ARRAY_DIMENSIONS":["t"]}""", conf)
    ZarrGridStore.consolidate(root, conf)
    val store = ZarrGridStore.open(root)
    val tc = store.schema.dim("t").coords.asInstanceOf[TimeCoords]
    assert(tc.values.sameElements(Array(0L, 1000000L, 61000000L)))
    val dc = store.schema.dim("d").coords.asInstanceOf[DurationCoords]
    assert(dc.values.sameElements(Array(0L, 250000L, 4000000L)))
    val td = store.schema.dim("td").coords.asInstanceOf[TimeCoords]
    assert(td.values.sameElements(
      Array(0L, 86400000000L, 31L * 86400000000L)))
    val tw = store.schema.dim("tw").coords.asInstanceOf[DurationCoords]
    assert(tw.values.sameElements(
      Array(0L, 604800000000L, 52L * 604800000000L)))
  }

  test("NaT in a coordinate array fails loudly") {
    val root = tmp().resolve("nat").toString
    Fixtures.writeM8Tree(root)
    // poison hour 3 with NaT (Long.MinValue) in the raw ns payload
    val raw = Files.readAllBytes(java.nio.file.Paths.get(root, "time", "0"))
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(3 * 8, Long.MinValue)
    Files.write(java.nio.file.Paths.get(root, "time", "0"), raw)
    val e = intercept[IllegalArgumentException](ZarrGridStore.open(root))
    assert(e.getMessage.contains("NaT"), e.getMessage)
    assert(e.getMessage.contains("coordinate"), e.getMessage)
  }

  test("NaT in a data variable surfaces as SQL NULL (both readers)") {
    val root = tmp().resolve("natvar").toString
    Fixtures.writeM8NatTree(root)
    val store = ZarrGridStore.open(root)
    val df = new graft.XarrayContext(spark)
      .dataFrame(s"m8nat@$root", store, store.chunkMap, Seq("time"))
    // dense walk: plain scan — 3 NaT cells (k = 3, 10, 17) are
    // NULL; count/min/max skip them like any SQL null
    val agg = df.agg(
      count(col("obs")).as("n_obs"),
      count(lit(1)).as("n_rows"),
      sum(when(col("obs").isNull, 1).otherwise(0)).as("n_nat")).collect()
    assert(agg.head.getLong(0) == 21L)
    assert(agg.head.getLong(1) == 24L)
    assert(agg.head.getLong(2) == 3L)
    // IS NULL predicate returns exactly the NaT hours
    val natHours = df.filter(col("obs").isNull)
      .select(col("time")).collect().map(_.getTimestamp(0).getTime)
      .sorted
    val epochMs = 1609459200L * 1000L
    assert(natHours.sameElements(
      Array(3L, 10L, 17L).map(epochMs + _ * 3600000L)))
    // enumerated walk: a pushed dim filter reads only the kept cells,
    // one short run each — same null surface
    val viaRows = df.filter(col("time") === lit("2021-01-01 03:00:00")
        .cast("timestamp") || col("time") === lit("2021-01-01 04:00:00")
        .cast("timestamp"))
      .orderBy("time").select("obs").collect()
    assert(viaRows.length == 2)
    assert(viaRows(0).isNullAt(0))
    assert(!viaRows(1).isNullAt(0))
    // non-NaT values decode normally (time + 90 s)
    assert(viaRows(1).getTimestamp(0).getTime ==
      epochMs + 4L * 3600000L + 90000L)
  }

  test("CF-encoded time DATA variables decode like xarray decode_cf") {
    val root = tmp().resolve("cfvar").toString
    GridIO.mkdirs(root, conf)
    GridIO.writeString(s"$root/.zgroup", """{"zarr_format":2}""", conf)
    def arr(name: String, dtype: String, attrs: String, n: Int,
        bytes: Array[Byte]): Unit = {
      GridIO.mkdirs(s"$root/$name", conf)
      GridIO.writeString(s"$root/$name/.zarray",
        s"""{"zarr_format":2,"shape":[$n],"chunks":[$n],"dtype":"$dtype",
           |"compressor":null,"fill_value":null,"order":"C",
           |"filters":null}""".stripMargin, conf)
      GridIO.writeString(s"$root/$name/.zattrs", attrs, conf)
      GridIO.write(s"$root/$name/0", bytes, conf)
    }
    // i-coordinate 0..3
    val ib = ByteBuffer.allocate(4 * 8).order(ByteOrder.LITTLE_ENDIAN)
    (0 until 4).foreach(k => ib.putLong(k.toLong))
    arr("i", "<i8", """{"_ARRAY_DIMENSIONS":["i"]}""", 4, ib.array())
    // i8 "seconds since 2000-01-01" with _FillValue -999 at slot 2
    val sb = ByteBuffer.allocate(4 * 8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0L, 7200L, -999L, 86400L).foreach(sb.putLong)
    arr("ts", "<i8",
      """{"_ARRAY_DIMENSIONS":["i"],
        |"units":"seconds since 2000-01-01","_FillValue":-999}"""
        .stripMargin, 4, sb.array())
    // i4 "hours since 1970-01-02" (int32 width, real timeline)
    val hb = ByteBuffer.allocate(4 * 4).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0, 1, 2, 3).foreach(hb.putInt)
    arr("th", "<i4",
      """{"_ARRAY_DIMENSIONS":["i"],"units":"hours since 1970-01-02",
        |"calendar":"proleptic_gregorian"}""".stripMargin, 4, hb.array())
    // noleap calendar: "days since 2000-01-01" — day 60 crosses the
    // calendar's missing Feb 29, so linear decode would be wrong
    val nb = ByteBuffer.allocate(4 * 8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0L, 31L, 59L, 60L).foreach(nb.putLong)
    arr("tn", "<i8",
      """{"_ARRAY_DIMENSIONS":["i"],"units":"days since 2000-01-01",
        |"calendar":"noleap"}""".stripMargin, 4, nb.array())
    // bare duration step (timedelta64 encoding): "seconds"
    val db = ByteBuffer.allocate(4 * 8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0L, 90L, -999L, 3600L).foreach(db.putLong)
    arr("dt", "<i8",
      """{"_ARRAY_DIMENSIONS":["i"],"units":"seconds",
        |"_FillValue":-999}""".stripMargin, 4, db.array())
    ZarrGridStore.consolidate(root, conf)

    val store = ZarrGridStore.open(root)
    val epoch2000us = 946684800L * 1000000L
    assert(store.schema.vars.find(_.name == "ts").get.dtype == GTimestamp)
    val ts = store.readVar("ts", Seq((0, 4))).asInstanceOf[Array[Long]]
    assert(ts(0) == epoch2000us)
    assert(ts(1) == epoch2000us + 7200L * 1000000L)
    assert(ts(2) == Long.MinValue) // _FillValue -> NaT -> SQL NULL
    assert(ts(3) == epoch2000us + 86400L * 1000000L)
    val th = store.readVar("th", Seq((0, 4))).asInstanceOf[Array[Long]]
    assert(th(0) == 86400L * 1000000L)
    assert(th(3) == (86400L + 3 * 3600L) * 1000000L)
    // noleap: day 59 = 2000-02-28 (wait — noleap skips Feb 29), day 60
    // must match CfCalendar's own per-offset bridge, not a linear law
    val tn = store.readVar("tn", Seq((0, 4))).asInstanceOf[Array[Long]]
    (0 until 4).foreach { k =>
      val off = Seq(0L, 31L, 59L, 60L)(k)
      assert(tn(k) == graft.time.CfCalendar.offsetToMicros(
        off, "days since 2000-01-01", "noleap"), s"k=$k")
    }
    assert(store.schema.vars.find(_.name == "dt").get.dtype == GDuration)
    val dt = store.readVar("dt", Seq((0, 4))).asInstanceOf[Array[Long]]
    assert(dt(1) == 90L * 1000000L)
    assert(dt(2) == Long.MinValue)
    assert(dt(3) == 3600L * 1000000L)
    // and the scan serves TIMESTAMP/NULL through SQL
    val df = new graft.XarrayContext(spark)
      .dataFrame(s"cfvar@$root", store, store.chunkMap, Seq("i"))
    val got = df.orderBy("i").select("ts").collect()
    assert(got(2).isNullAt(0))
    assert(got(1).getTimestamp(0).getTime ==
      (946684800L + 7200L) * 1000L)
  }

  test("CF reference time-of-day honored in coords and data vars") {
    val root = tmp().resolve("cfrefnoon").toString
    GridIO.mkdirs(root, conf)
    GridIO.writeString(s"$root/.zgroup", """{"zarr_format":2}""", conf)
    def arr(name: String, attrs: String, vals: Seq[Long]): Unit = {
      GridIO.mkdirs(s"$root/$name", conf)
      GridIO.writeString(s"$root/$name/.zarray",
        s"""{"zarr_format":2,"shape":[${vals.length}],
           |"chunks":[${vals.length}],"dtype":"<i8","compressor":null,
           |"fill_value":null,"order":"C","filters":null}""".stripMargin,
        conf)
      GridIO.writeString(s"$root/$name/.zattrs", attrs, conf)
      val bb = ByteBuffer.allocate(vals.length * 8)
        .order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putLong)
      GridIO.write(s"$root/$name/0", bb.array(), conf)
    }
    // COORDINATE with a noon reference (CMIP-style daily means)
    arr("time",
      """{"_ARRAY_DIMENSIONS":["time"],
        |"units":"days since 1850-01-01 12:00:00"}""".stripMargin,
      Seq(0L, 1L, 2L))
    // DATA var via the StoredCfTime LINEAR path (real timeline) with a
    // non-midnight reference
    arr("tv",
      """{"_ARRAY_DIMENSIONS":["time"],
        |"units":"hours since 2000-01-01 06:00:00"}""".stripMargin,
      Seq(0L, 1L, 20L))
    val store = ZarrGridStore.open(root)
    val coords = store.schema.dims.head.coords
      .asInstanceOf[TimeCoords].values
    val noon1850 = graft.time.CfCalendar.gregorianMicros(1850, 1, 1,
      hour = 12)
    assert(coords.sameElements(
      Array(0L, 1L, 2L).map(noon1850 + _ * 86400000000L)))
    val six2000 = graft.time.CfCalendar.gregorianMicros(2000, 1, 1,
      hour = 6)
    val tv = store.readVar("tv", Seq((0, 3))).asInstanceOf[Array[Long]]
    assert(tv.sameElements(
      Array(0L, 1L, 20L).map(six2000 + _ * 3600000000L)))
  }

  test("decodeTimedelta=false keeps bare-duration ints raw (xarray flag)") {
    val root = tmp().resolve("tdgate").toString
    GridIO.mkdirs(root, conf)
    GridIO.writeString(s"$root/.zgroup", """{"zarr_format":2}""", conf)
    def arr(name: String, attrs: String, vals: Seq[Long]): Unit = {
      GridIO.mkdirs(s"$root/$name", conf)
      GridIO.writeString(s"$root/$name/.zarray",
        s"""{"zarr_format":2,"shape":[${vals.length}],
           |"chunks":[${vals.length}],"dtype":"<i8","compressor":null,
           |"fill_value":null,"order":"C","filters":null}""".stripMargin,
        conf)
      GridIO.writeString(s"$root/$name/.zattrs", attrs, conf)
      val bb = ByteBuffer.allocate(vals.length * 8)
        .order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putLong)
      GridIO.write(s"$root/$name/0", bb.array(), conf)
    }
    // a bare-duration COORDINATE and a bare-duration DATA variable
    arr("lead",
      """{"_ARRAY_DIMENSIONS":["lead"],"units":"hours"}""",
      Seq(0L, 6L, 12L))
    arr("elapsed",
      """{"_ARRAY_DIMENSIONS":["lead"],"units":"seconds"}""",
      Seq(10L, 20L, 30L))
    // default: xarray-compatible decode -> intervals
    val on = ZarrGridStore.open(root)
    assert(on.schema.vars.find(_.name == "elapsed").get.dtype == GDuration)
    assert(on.schema.dim("lead").coords.isInstanceOf[DurationCoords])
    // flag off: both stay raw int64 (the deprecated-inference escape)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setBoolean(ZarrGridStore.DecodeTimedeltaKey, false)
    try {
      val off = ZarrGridStore.open(root)
      assert(off.schema.vars.find(_.name == "elapsed").get.dtype == GLong)
      assert(off.schema.dim("lead").coords.isInstanceOf[LongCoords])
      assert(off.readVar("elapsed", Seq((0, 3))).asInstanceOf[Array[Long]]
        .toSeq == Seq(10L, 20L, 30L))
    } finally hc.unset(ZarrGridStore.DecodeTimedeltaKey)
  }

  test("undecodable CF encodings keep raw ints; ns units decode right") {
    val root = tmp().resolve("cfedge").toString
    GridIO.mkdirs(root, conf)
    GridIO.writeString(s"$root/.zgroup", """{"zarr_format":2}""", conf)
    def arr(name: String, attrs: String, vals: Seq[Long]): Unit = {
      GridIO.mkdirs(s"$root/$name", conf)
      GridIO.writeString(s"$root/$name/.zarray",
        s"""{"zarr_format":2,"shape":[${vals.length}],
           |"chunks":[${vals.length}],"dtype":"<i8","compressor":null,
           |"fill_value":null,"order":"C","filters":null}"""
          .stripMargin, conf)
      GridIO.writeString(s"$root/$name/.zattrs", attrs, conf)
      val bb = ByteBuffer.allocate(vals.length * 8)
        .order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putLong)
      GridIO.write(s"$root/$name/0", bb.array(), conf)
    }
    arr("i", """{"_ARRAY_DIMENSIONS":["i"]}""", Seq(0L, 1L, 2L))
    // CMIP-style "months since": no fixed µs law -> stays BIGINT, and
    // the whole tree still OPENS (was: throws at chunk-read time)
    arr("tm", """{"_ARRAY_DIMENSIONS":["i"],
        |"units":"months since 1850-01-01"}""".stripMargin,
      Seq(0L, 1L, 2L))
    // unparseable reference date -> raw ints, open survives
    arr("tl", """{"_ARRAY_DIMENSIONS":["i"],
        |"units":"days since launch"}""".stripMargin, Seq(0L, 5L, 9L))
    // JSON-null _FillValue is inert: still decodes as timestamps
    arr("tn", """{"_ARRAY_DIMENSIONS":["i"],
        |"units":"seconds since 2021-01-01","_FillValue":null}"""
        .stripMargin, Seq(0L, 60L, 120L))
    // nanosecond CF units: the intra-day component must survive
    // (the old remSteps*(µsPerDay/spd) integer division zeroed it)
    arr("tns", """{"_ARRAY_DIMENSIONS":["i"],
        |"units":"nanoseconds since 2021-01-01"}""".stripMargin,
      Seq(0L, 3600L * 1000000000L, 7200L * 1000000000L + 1500L))
    ZarrGridStore.consolidate(root, conf)
    val store = ZarrGridStore.open(root)
    assert(store.schema.vars.find(_.name == "tm").get.dtype == GLong)
    assert(store.schema.vars.find(_.name == "tl").get.dtype == GLong)
    assert(store.readVar("tm", Seq((0, 3))).asInstanceOf[Array[Long]]
      .sameElements(Array(0L, 1L, 2L)))
    val epoch2021us = 1609459200L * 1000000L
    val tn = store.readVar("tn", Seq((0, 3))).asInstanceOf[Array[Long]]
    assert(tn(1) == epoch2021us + 60L * 1000000L)
    val tns = store.readVar("tns", Seq((0, 3))).asInstanceOf[Array[Long]]
    assert(tns(1) == epoch2021us + 3600L * 1000000L)
    assert(tns(2) == epoch2021us + 7200L * 1000000L + 1L) // ns floor
  }

  test("negative sub-µs offsets FLOOR to µs (numpy cast semantics)") {
    val root = tmp().resolve("negns").toString
    GridIO.mkdirs(root, conf)
    GridIO.writeString(s"$root/.zgroup", """{"zarr_format":2}""", conf)
    GridIO.mkdirs(s"$root/i", conf)
    GridIO.writeString(s"$root/i/.zarray",
      """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"<i8",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":null}""".stripMargin, conf)
    GridIO.writeString(s"$root/i/.zattrs",
      """{"_ARRAY_DIMENSIONS":["i"]}""", conf)
    val ib = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0L, 1L).foreach(ib.putLong)
    GridIO.write(s"$root/i/0", ib.array(), conf)
    GridIO.mkdirs(s"$root/o", conf)
    GridIO.writeString(s"$root/o/.zarray",
      """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"<M8[ns]",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":null}""".stripMargin, conf)
    GridIO.writeString(s"$root/o/.zattrs",
      """{"_ARRAY_DIMENSIONS":["i"]}""", conf)
    val ob = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    Seq(-1L, -1000L).foreach(ob.putLong) // 1 ns and 1 µs before epoch
    GridIO.write(s"$root/o/0", ob.array(), conf)
    ZarrGridStore.consolidate(root, conf)
    val o = ZarrGridStore.open(root).readVar("o", Seq((0, 2)))
      .asInstanceOf[Array[Long]]
    assert(o(0) == -1L) // floor(-1/1000) = -1 µs, not 0
    assert(o(1) == -1L)
  }

  test("<u8 widens to long; high-bit values overflow loudly") {
    val root = tmp().resolve("u8").toString
    Fixtures.writeU8Tree(root)
    val store = ZarrGridStore.open(root)
    assert(store.schema.vars.find(_.name == "cnt").get.dtype == GLong)
    val cnt = store.readVar("cnt", Seq((0, 10))).asInstanceOf[Array[Long]]
    assert(cnt(7) == (1L << 40) + 21L)
    // a value past Long.Max must throw, not wrap
    val raw = Files.readAllBytes(java.nio.file.Paths.get(root, "cnt", "1"))
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(0, -1L) // 2^64 - 1 unsigned
    Files.write(java.nio.file.Paths.get(root, "cnt", "1"), raw)
    val e = intercept[ArithmeticException](
      store.readVar("cnt", Seq((5, 5))))
    assert(e.getMessage.contains("uint64"), e.getMessage)
  }

  test("absent-chunk fill converts stored units; overflow fails loudly") {
    val root = tmp().resolve("m8fill").toString
    GridIO.mkdirs(root, conf)
    GridIO.writeString(s"$root/.zgroup", """{"zarr_format":2}""", conf)
    GridIO.mkdirs(s"$root/t", conf)
    GridIO.writeString(s"$root/t/.zarray",
      """{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"<i8",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":null}""".stripMargin, conf)
    GridIO.writeString(s"$root/t/.zattrs",
      """{"_ARRAY_DIMENSIONS":["t"]}""", conf)
    val tb = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
    (0 until 4).foreach(k => tb.putLong(k.toLong))
    GridIO.write(s"$root/t/0", tb.array(), conf)
    // <M8[s] data var, fill_value in STORED units (seconds), chunk 1
    // ABSENT: the fill must decode through the same s->µs conversion
    // as stored cells, not surface raw seconds as microseconds
    GridIO.mkdirs(s"$root/when", conf)
    GridIO.writeString(s"$root/when/.zarray",
      """{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<M8[s]",
        |"compressor":null,"fill_value":1609459200,"order":"C",
        |"filters":null}""".stripMargin, conf)
    GridIO.writeString(s"$root/when/.zattrs",
      """{"_ARRAY_DIMENSIONS":["t"]}""", conf)
    val wb = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    wb.putLong(1609459200L); wb.putLong(1609459260L)
    GridIO.write(s"$root/when/0", wb.array(), conf)
    ZarrGridStore.consolidate(root, conf)
    val store = ZarrGridStore.open(root)
    val got = store.readVar("when", Seq((0, 4))).asInstanceOf[Array[Long]]
    assert(got(0) == 1609459200L * 1000000L)
    assert(got(2) == 1609459200L * 1000000L, // absent chunk: fill, in µs
      s"absent-chunk fill not unit-converted: ${got(2)}")
    // a stored s-offset whose µs value exceeds Long.Max must throw,
    // not wrap into a plausible instant
    val ob = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    ob.putLong(1L << 62); ob.putLong(0L)
    GridIO.write(s"$root/when/1", ob.array(), conf)
    intercept[ArithmeticException](store.readVar("when", Seq((2, 2))))
  }

  test("v3: uint64 and the numpy.datetime64 extension object") {
    val root = tmp().resolve("v3m8").toString
    GridIO.mkdirs(root, conf)
    def arrJson(name: String, n: Int, chunk: Int, dt: String): String =
      s"""{"zarr_format":3,"node_type":"array","shape":[$n],
         |"chunk_grid":{"name":"regular","configuration":
         |{"chunk_shape":[$chunk]}},
         |"data_type":$dt,
         |"chunk_key_encoding":{"name":"default",
         |"configuration":{"separator":"/"}},
         |"fill_value":0,
         |"codecs":[{"name":"bytes",
         |"configuration":{"endian":"little"}}],
         |"attributes":{},"dimension_names":["t"]}""".stripMargin
    GridIO.mkdirs(s"$root/t", conf)
    GridIO.writeString(s"$root/t/zarr.json", arrJson("t", 6, 6,
      """{"name":"numpy.datetime64",
        |"configuration":{"unit":"s","scale_factor":1}}""".stripMargin),
      conf)
    val tb = ByteBuffer.allocate(6 * 8).order(ByteOrder.LITTLE_ENDIAN)
    (0 until 6).foreach(k => tb.putLong(1609459200L + k * 60L))
    GridIO.mkdirs(s"$root/t/c", conf)
    GridIO.write(s"$root/t/c/0", tb.array(), conf)
    GridIO.mkdirs(s"$root/big", conf)
    GridIO.writeString(s"$root/big/zarr.json",
      arrJson("big", 6, 3, "\"uint64\""), conf)
    GridIO.mkdirs(s"$root/big/c", conf)
    (0 until 2).foreach { c =>
      val vb = ByteBuffer.allocate(3 * 8).order(ByteOrder.LITTLE_ENDIAN)
      (0 until 3).foreach(j => vb.putLong((1L << 41) + c * 3 + j))
      GridIO.write(s"$root/big/c/$c", vb.array(), conf)
    }
    GridIO.writeString(s"$root/zarr.json",
      """{"zarr_format":3,"node_type":"group","attributes":{}}""", conf)
    val store = ZarrGridStore.open(root)
    val tc = store.schema.dim("t").coords.asInstanceOf[TimeCoords]
    assert(tc.values(2) == (1609459200L + 120L) * 1000000L)
    val big = store.readVar("big", Seq((0, 6))).asInstanceOf[Array[Long]]
    assert(big(4) == (1L << 41) + 4L)
  }

  /** Append hours 24..29 to a 24-hour [[Fixtures.writeM8Tree]]-shaped
    * tree and check the grown time axis and `temp` read back whole.
    */
  private def appendSixHoursAndCheck(root: String): Unit = {
    val epoch2021us = 1609459200L * 1000000L
    val hour = 3600000000L
    val rows = spark.range(24, 30).select(
      expr(s"timestamp_micros($epoch2021us + id * $hour)").as("time"),
      (lit(15.0) + col("id") * 0.5).as("temp"))
    ZarrGridStore.appendFromRows(rows, root, "time")
    val store = ZarrGridStore.open(root)
    val tc = store.schema.dim("time").coords.asInstanceOf[TimeCoords]
    assert(tc.values.toSeq == (0 until 30).map(k => epoch2021us + k * hour))
    val temp = store.readVar("temp", Seq((0, 30))).asInstanceOf[Array[Double]]
    assert(temp.toSeq == (0 until 30).map(15.0 + 0.5 * _))
  }

  test("append to a <M8[ns] time axis re-encodes the coordinate (v2)") {
    val root = tmp().resolve("m8_append").toString
    Fixtures.writeM8Tree(root)
    appendSixHoursAndCheck(root)
  }

  test("append to an int64 'hours since 1900' time axis re-encodes it (v2)") {
    val root = tmp().resolve("cf_append").toString
    Fixtures.writeM8Tree(root)
    // another writer's CF encoding of the same hours
    GridIO.writeString(s"$root/time/.zarray",
      """{"zarr_format":2,"shape":[24],"chunks":[24],"dtype":"<i8",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":null}""".stripMargin, conf)
    GridIO.writeString(s"$root/time/.zattrs",
      """{"_ARRAY_DIMENSIONS":["time"],"units":"hours since 1900-01-01",
        |"calendar":"proleptic_gregorian"}""".stripMargin, conf)
    val hours1900To2021 = 1060680L // 44195 days
    val tb = ByteBuffer.allocate(24 * 8).order(ByteOrder.LITTLE_ENDIAN)
    (0 until 24).foreach(k => tb.putLong(hours1900To2021 + k))
    GridIO.write(s"$root/time/0", tb.array(), conf)
    ZarrGridStore.consolidate(root, conf)
    appendSixHoursAndCheck(root)
  }
}
