package graft.grid

import graft.{SparkTestBase, TempDirs}
import graft.grid.ZarrLayout.V3
import org.apache.spark.sql.functions._

import java.nio.ByteBuffer
import java.nio.ByteOrder
import java.nio.file.Path

/** 0-d (SCALAR) zarr arrays — xarray scalar variables, most famously
  * rioxarray's `spatial_ref` CRS variable that sits in practically
  * every georeferenced archive. They parse (shape [], single chunk
  * "0" v2 / "c" v3), read as one value, and register as the 1-row
  * `<name>_scalar` table the reference builds (sql.py:112,
  * tests/test_sql.py:434-456). Before this, any tree containing one
  * failed to open at all.
  */
class ZarrScalarVarSpec extends SparkTestBase with TempDirs {

  private def tmp(): Path = tempDir("zarr_scalar")

  private val conf = GridIO.driverConf()

  private def writeRioStyleTree(root: String): Unit =
    Fixtures.writeRioTree(root)

  test("rioxarray-style tree with a 0-d spatial_ref opens and reads") {
    val root = tmp().resolve("rio").toString
    writeRioStyleTree(root)
    val store = ZarrGridStore.open(root)
    val sv = store.schema.vars.find(_.name == "spatial_ref").get
    assert(sv.dims.isEmpty && sv.dtype == GLong)
    assert(sv.attrs("crs_wkt").contains("WGS 84"))
    assert(store.readVar("spatial_ref", Seq.empty)
      .asInstanceOf[Array[Long]].toSeq == Seq(4326L))
    // the dimensional variable is untouched
    assert(store.readVar("temp", Seq((0, 6))).asInstanceOf[Array[Double]]
      .toSeq == (0 until 6).map(15.0 + _))
  }

  test("scalar vars register as the reference's 1-row scalar table") {
    val root = tmp().resolve("reg").toString
    writeRioStyleTree(root)
    val store = ZarrGridStore.open(root)
    val views = new graft.XarrayContext(spark)
      .fromDataset("rio", store, store.chunkMap)
    assert(views.toSet == Set("rio_t", "rio_scalar"))
    val scalar = spark.sql("SELECT spatial_ref FROM rio_scalar").collect()
    assert(scalar.length == 1 && scalar.head.getLong(0) == 4326L)
    val agg = spark.sql(
      "SELECT count(*) AS n, sum(temp) AS s FROM rio_t").collect().head
    assert(agg.getLong(0) == 6L)
    assert(agg.getDouble(1) == (0 until 6).map(15.0 + _).sum)
  }

  test("scalar vars WRITE: v2 + v3 store-to-store round-trip") {
    // a rio-style source: dimensional temp(t) + 0-d spatial_ref
    val src = tmp().resolve("src").toString
    writeRioStyleTree(src)
    val source = ZarrGridStore.open(src)
    for ((label, write) <- Seq[(String, String => ZarrGridStore)](
      "v2" -> (r => ZarrGridStore.write(source, r, Map("t" -> 3), "zlib")),
      "v2dist" -> (r =>
        ZarrGridStore.writeDistributed(source, r, Map("t" -> 3), "zstd:3")),
      "v3" -> (r =>
        ZarrGridStore.write(source, r, Map("t" -> 3), "zstd:3", V3())))) {
      val root = tmp().resolve(label).toString
      val rt = write(root)
      val sv = rt.schema.vars.find(_.name == "spatial_ref").get
      assert(sv.dims.isEmpty && sv.dtype == GLong, label)
      assert(sv.attrs("crs_wkt").contains("WGS 84"), label)
      assert(rt.readVar("spatial_ref", Seq.empty)
        .asInstanceOf[Array[Long]].toSeq == Seq(4326L), label)
      assert(rt.readVar("temp", Seq((0, 6))).asInstanceOf[Array[Double]]
        .toSeq == (0 until 6).map(15.0 + _), label)
      // and a SECOND round trip from the repo-written tree
      val root2 = tmp().resolve(label + "_again").toString
      val rt2 = ZarrGridStore.write(ZarrGridStore.open(root), root2,
        Map("t" -> 3), "zlib")
      assert(rt2.readVar("spatial_ref", Seq.empty)
        .asInstanceOf[Array[Long]].toSeq == Seq(4326L), label)
    }
  }

  test("scalar vars WRITE: df.write.format(zarr) with scalarVars") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 6)
      .select(col("id").cast("int").as("t"),
        (col("id") * 1.5).as("temp"), lit(4326L).as("spatial_ref"))
    for (fmt <- Seq("v2", "v3")) {
      val root = tmp().resolve(s"dfw_$fmt").toString
      df.write.format("zarr").option("dims", "t")
        .option("chunks", "t=3").option("format", fmt)
        .option("scalarVars", "spatial_ref").mode("overwrite").save(root)
      val store = ZarrGridStore.open(root)
      val sv = store.schema.vars.find(_.name == "spatial_ref").get
      assert(sv.dims.isEmpty && sv.dtype == GLong, fmt)
      assert(store.readVar("spatial_ref", Seq.empty)
        .asInstanceOf[Array[Long]].toSeq == Seq(4326L), fmt)
      assert(store.readVar("temp", Seq((0, 6))).asInstanceOf[Array[Double]]
        .toSeq == (0 until 6).map(_ * 1.5), fmt)
      // the scalar registers as the reference's 1-row table on re-read
      val views = new graft.XarrayContext(spark)
        .fromDataset(s"rtw_$fmt", store, store.chunkMap)
      assert(views.contains(s"rtw_${fmt}_scalar"))
      val got = spark.sql(s"SELECT spatial_ref FROM rtw_${fmt}_scalar")
        .collect()
      assert(got.length == 1 && got.head.getLong(0) == 4326L, fmt)
    }
    // a column that is NOT constant fails loudly
    val bad = spark.range(0, 4).select(col("id").cast("int").as("t"),
      (col("id") * 1.0).as("x"), col("id").as("notconst"))
    val err = intercept[Exception] {
      bad.write.format("zarr").option("dims", "t")
        .option("scalarVars", "notconst")
        .mode("overwrite").save(tmp().resolve("bad").toString)
    }
    assert(err.getMessage.contains("exactly"), err.getMessage)
  }

  test("scalar dtypes: string and timestamp scalars round-trip") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 4)
      .select(col("id").cast("int").as("t"), (col("id") * 2.0).as("x"),
        lit("EPSG:4326").as("crs"),
        lit("2021-06-01 12:30:00").cast("timestamp").as("t0"))
    for (fmt <- Seq("v2", "v3")) {
      val root = tmp().resolve(s"sdt_$fmt").toString
      df.write.format("zarr").option("dims", "t")
        .option("format", fmt).option("scalarVars", "crs,t0")
        .mode("overwrite").save(root)
      val store = ZarrGridStore.open(root)
      assert(store.schema.vars.find(_.name == "crs").get.dtype == GString,
        fmt)
      assert(store.readVar("crs", Seq.empty)
        .asInstanceOf[Array[String]].toSeq == Seq("EPSG:4326"), fmt)
      val sv = store.schema.vars.find(_.name == "t0").get
      assert(sv.dims.isEmpty && sv.dtype == GTimestamp, fmt)
      val micros = store.readVar("t0", Seq.empty)
        .asInstanceOf[Array[Long]].head
      assert(micros == java.time.Instant.parse("2021-06-01T12:30:00Z")
        .getEpochSecond * 1000000L, fmt)
    }
  }

  test("v3: a 0-d array (chunk key 'c') round-trips the same way") {
    val root = tmp().resolve("v3").toString
    GridIO.mkdirs(root, conf)
    GridIO.mkdirs(s"$root/sref", conf)
    GridIO.mkdirs(s"$root/x", conf)
    GridIO.writeString(s"$root/zarr.json",
      """{"zarr_format":3,"node_type":"group","attributes":{}}""", conf)
    GridIO.writeString(s"$root/sref/zarr.json",
      """{"zarr_format":3,"node_type":"array","shape":[],
        |"data_type":"int64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[]}},
        |"chunk_key_encoding":{"name":"default",
        |  "configuration":{"separator":"/"}},
        |"fill_value":0,"codecs":[{"name":"bytes",
        |  "configuration":{"endian":"little"}}],
        |"attributes":{"crs_wkt":"EPSG:4326"}}""".stripMargin, conf)
    val sb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    sb.putLong(4326L)
    GridIO.write(s"$root/sref/c", sb.array(), conf)
    GridIO.writeString(s"$root/x/zarr.json",
      """{"zarr_format":3,"node_type":"array","shape":[4],
        |"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4]}},
        |"chunk_key_encoding":{"name":"default",
        |  "configuration":{"separator":"/"}},
        |"fill_value":"NaN","codecs":[{"name":"bytes",
        |  "configuration":{"endian":"little"}}],
        |"dimension_names":["i"],"attributes":{}}""".stripMargin, conf)
    val xb = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
    (0 until 4).foreach(j => xb.putDouble(j * 1.5))
    GridIO.write(s"$root/x/c/0", xb.array(), conf)
    val store = ZarrGridStore.open(root)
    assert(store.readVar("sref", Seq.empty)
      .asInstanceOf[Array[Long]].toSeq == Seq(4326L))
    assert(store.readVar("x", Seq((0, 4))).asInstanceOf[Array[Double]]
      .toSeq == (0 until 4).map(_ * 1.5))
  }
}
